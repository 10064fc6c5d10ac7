package graft

/** 3-SF golden-gate sweep: evaluates every [[GoldenHashes.queries]]
  * entry at each given sf dir and prints one `GOLDEN <sf> <query>
  * pass|FAIL|no_golden (<hash>)` line plus the commit-ready
  * `GOLDEN_TRIPLE` lines — the one-command evidence run for the pinned
  * set (`scripts/run_main.sh graft.GoldenSweep [sfDir...]`, default all
  * three test SFs) in the [[Harness.session]] posture. Exits non-zero on
  * any FAIL. Queries filter: [[Harness.selected]]. */
object GoldenSweep {

  /** Repo root resolved from a KNOWN anchor — the compiled classes'
    * location (the target classes dir) — walking up to the first `.git`,
    * falling back to the same walk from the launch CWD. ProcessBuilder
    * otherwise inherits the JVM's CWD, and a sweep launched from outside
    * the repo would silently inspect whatever repo contains that CWD
    * (or none), bypassing the dirty-tree refusal (round-17 advice). */
  private val repoRoot: Option[java.io.File] = {
    def walkUp(start: java.io.File): Option[java.io.File] = {
      var d = Option(start)
      while (d.isDefined && !new java.io.File(d.get, ".git").exists())
        d = Option(d.get.getParentFile)
      d
    }
    val fromClasses = try {
      val uri = getClass.getProtectionDomain.getCodeSource.getLocation.toURI
      walkUp(new java.io.File(uri))
    } catch { case _: Exception => None }
    fromClasses.orElse(
      walkUp(new java.io.File(System.getProperty("user.dir", "."))))
  }

  /** Run a git command pinned to [[repoRoot]]; None if git or the root
    * is unavailable (the caller treats that as a refusal, not clean). */
  private def git(args: String*): Option[String] =
    repoRoot.flatMap { root =>
      try {
        val p = new ProcessBuilder(
          (Seq("git", "-C", root.getAbsolutePath) ++ args): _*)
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0) Some(out) else None
      } catch { case _: Exception => None }
    }

  def main(args: Array[String]): Unit = {
    // The certification header is GENERATED, not hand-written (two
    // rounds of "sweep header is one evidence-hop behind HEAD" findings):
    // the sweep resolves HEAD itself and REFUSES to certify a dirty
    // source tree — any src/main or script diff means the hashes below
    // would pin a tree no commit identifies. SPARK_GRAFT_ALLOW_DIRTY=1
    // overrides for mid-development runs (the header then says DIRTY, so
    // a pasted log can never masquerade as a certification).
    val head = git("rev-parse", "HEAD").getOrElse("unknown")
    val dirty = git("status", "--porcelain", "--", "src", "scripts",
      "build.sbt").map(_.nonEmpty)
    val allowDirty = sys.env.get("SPARK_GRAFT_ALLOW_DIRTY").contains("1")
    if (dirty.contains(true) && !allowDirty) {
      System.err.println("[golden-sweep] REFUSING to certify: src/scripts " +
        "tree has uncommitted changes (commit first, or set " +
        "SPARK_GRAFT_ALLOW_DIRTY=1 for a non-certifying run)")
      sys.exit(4)
    }
    // git-unavailable is ALSO a refusal: an unverifiable tree must not
    // print a header that reads like a certification (round-17 advice).
    if (dirty.isEmpty && !allowDirty) {
      System.err.println("[golden-sweep] REFUSING to certify: git or the " +
        "repo root is unavailable, so the tree state cannot be verified " +
        "(set SPARK_GRAFT_ALLOW_DIRTY=1 for a non-certifying run)")
      sys.exit(4)
    }
    val state =
      if (dirty.isEmpty) "git-unavailable"
      else if (dirty.contains(true)) "DIRTY (NOT a certification)"
      else "clean"
    println(s"GOLDEN_SWEEP_HEAD $head tree=$state")
    val sfDirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val only = Harness.selected()
    val spark = Harness.session()
    var failures = 0
    sfDirs.foreach { sfDir =>
      val sfKey = java.nio.file.Paths.get(sfDir).getFileName.toString
      GoldenHashes.queries
        .filter(only)
        .foreach { name =>
          SparkEntry.queries.get(name).foreach { fn =>
            val (hash, exp, ok) =
              GoldenHashes.check(name, sfKey, fn(spark, sfDir))
            val status =
              if (exp.isEmpty) "no_golden" else if (ok) "pass" else "FAIL"
            if (status == "FAIL") failures += 1
            println(s"GOLDEN $sfKey $name: $status ($hash)")
            println(s"GOLDEN_TRIPLE $sfKey $name $hash")
          }
        }
    }
    spark.stop()
    if (failures > 0) {
      System.err.println(s"[golden-sweep] $failures FAILure(s)")
      sys.exit(3)
    }
  }
}
