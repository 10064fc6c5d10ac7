package graft

import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{TextAnalysis, UrlOps}
import graft.ops.{AsOfJoin, Sampling, TimeSeriesOps}

/** Differential fuzzing: seeded ScalaCheck generators build small random
  * frames and random parameterizations of the closed-form operators, and
  * every case replays against an INDEPENDENT plain-Scala model of the
  * documented semantics (the fixed-fixture oracles pin known shapes; this
  * hunts the unknown ones — boundary ties, empty groups, zero budgets,
  * degenerate ranges). 100 seeded cases per operator, deterministic via
  * an explicit initial seed, so a failure replays exactly.
  *
  * The models deliberately re-derive everything from scratch (md5
  * priorities, percentile interpolation, as-of scans) rather than calling
  * any graft code. Where engine floating-point could diverge by ulps
  * (percentile interpolation), set-equality on the KEPT ROWS is the
  * robust comparison — thresholds fall strictly between the discrete
  * score values or exactly on one, in both engines (same argument as the
  * text_quality_prune oracle).
  */
trait DifferentialFuzz extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  protected val Cases = 100

  protected def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  protected def check(name: String)(prop: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(Cases)
        .withMaxDiscardRatio(1.0f)
        .withWorkers(1)
        .withInitialSeed(Seed(0xC0FFEEL)),
      prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  // ——— as-of joins (backward / forward / tolerance) vs linear scan ———

  protected val asofGen = for {
    nKeys <- Gen.choose(1, 3)
    nl <- Gen.choose(0, 30)
    left <- Gen.listOfN(nl, for {
      k <- Gen.choose(0, nKeys - 1)
      t <- Gen.choose(0L, 100L)
    } yield (k, t))
    nr <- Gen.choose(0, 30)
    rightRaw <- Gen.listOfN(nr, for {
      k <- Gen.choose(0, nKeys - 1)
      t <- Gen.choose(0L, 100L)
      v <- Gen.choose(-1000, 1000)
    } yield (k, t, v))
  } yield (
    left.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) },
    // (key, ts) must be unique on the right: equal-ts right rows tie in
    // the window order, making the matched PAYLOAD genuinely unspecified
    rightRaw.groupBy(r => (r._1, r._2)).map(_._2.head).toList)

  private def runAsof(
      mode: String, tol: Long,
      left: List[(Int, Long, Long)], right: List[(Int, Long, Int)]) = {
    val l = left.toDF("k", "lt", "lid").withColumn("lts", col("lt").cast("timestamp"))
    val r = right.toDF("k", "rt", "rv").withColumn("rts", col("rt").cast("timestamp"))
    val joined = mode match {
      case "backward" => AsOfJoin.asOf(l, r, Seq("k"), "lts", "rts", Seq("rv"))
      case "forward" => AsOfJoin.asOfForward(l, r, Seq("k"), "lts", "rts", Seq("rv"))
      case "tolerance" =>
        AsOfJoin.asOfTolerance(l, r, Seq("k"), "lts", "rts", Seq("rv"), tol)
    }
    joined.select(col("lid"), col("asof_rv"))
      .as[(Long, Option[Int])].collect().toSet
  }

  protected def asofModel(
      mode: String, tol: Long,
      left: List[(Int, Long, Long)], right: List[(Int, Long, Int)]) =
    left.map { case (k, t, lid) =>
      val cands = mode match {
        case "forward" => right.filter(r => r._1 == k && r._2 >= t)
        case _ => right.filter(r => r._1 == k && r._2 <= t)
      }
      val best =
        if (mode == "forward") cands.sortBy(_._2).headOption
        else cands.sortBy(_._2).lastOption
      val bounded = best.filter(b =>
        mode != "tolerance" || (t - b._2) <= tol)
      (lid, bounded.map(_._3))
    }.toSet

  /** Registers the as-of `mode` fuzz test against the linear scan. */
  protected def asofTest(mode: String): Unit =
    test(s"fuzz: as-of $mode == linear-scan model ($Cases cases)") {
      val gen = for {
        lr <- asofGen
        tol <- Gen.choose(0L, 30L)
      } yield (lr._1, lr._2, tol)
      check(s"asof-$mode")(Prop.forAllNoShrink(gen) { case (l, r, tol) =>
        runAsof(mode, tol, l, r) == asofModel(mode, tol, l, r)
      })
    }
}

/** The fast differential fuzz loops; the five heaviest run in
  * [[DifferentialFuzzHeavySpec]] so the two suites can run on separate
  * test forks. */
class DifferentialFuzzSpec extends DifferentialFuzz {
  import spark.implicits._

  // ——— as-of forward / tolerance vs linear scan ———

  Seq("forward", "tolerance").foreach(asofTest)

  test(s"fuzz: as-of tolerance on TIMESTAMP_NTZ across a DST gap == model ($Cases cases)") {
    // the generator's abstract times become MINUTES from a base 30 min
    // before America/New_York's 2024 spring-forward, so operand pairs
    // freely straddle the skipped 02:00-03:00 wall-clock hour. The model
    // stays plain integer minutes — NTZ arithmetic is wall-clock
    // arithmetic, whatever the session timezone does (the round-8 DST
    // fix; the old LTZ-hop diff diverges on these cases by ±60 min).
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      def asNtz(minsCol: String) = expr(
        s"cast('2024-03-10 01:30:00' as timestamp_ntz) + " +
          s"make_interval(0, 0, 0, 0, 0, $minsCol, 0)")
      val gen = for {
        lr <- asofGen
        tol <- Gen.choose(0L, 30L)
      } yield (lr._1, lr._2, tol)
      check("asof-ntz")(Prop.forAllNoShrink(gen) { case (l, r, tolMin) =>
        val ldf = l.toDF("k", "lt", "lid").withColumn("lts", asNtz("lt"))
        val rdf = r.toDF("k", "rt", "rv").withColumn("rts", asNtz("rt"))
        val got = AsOfJoin.asOfTolerance(
            ldf, rdf, Seq("k"), "lts", "rts", Seq("rv"), tolMin * 60L)
          .select(col("lid"), col("asof_rv"))
          .as[(Long, Option[Int])].collect().toSet
        got == asofModel("tolerance", tolMin, l, r)
      })
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  // ——— shard assignment vs recomputed md5 order ———

  test(s"fuzz: shardByHash == md5 model ($Cases cases)") {
    val gen = for {
      n <- Gen.choose(0, 50)
      nShards <- Gen.choose(1, 10)
      seed <- Gen.oneOf("42", "9")
    } yield ((0L until n.toLong).toList, nShards, seed)
    check("shard")(Prop.forAllNoShrink(gen) { case (ids, nShards, seed) =>
      val model = ids.map { id =>
        val pri = md5hex(s"$id:$seed")
        (id, pri, (java.lang.Long.parseLong(pri.take(8), 16) % nShards).toInt)
      }.groupBy(_._3).flatMap { case (shard, members) =>
        members.sortBy(m => (m._2, m._1)).zipWithIndex
          .map { case ((id, _, s), i) => (id, s, (i + 1).toLong) }
      }.toSet
      val got = Sampling.shardByHash(ids.toDF("doc_id"), "doc_id", nShards, seed)
        .select("doc_id", "shard", "pos")
        .as[(Long, Int, Long)].collect().toSet
      got == model
    })
  }

  // ——— bottom-quantile pruning vs percentile model ———

  test(s"fuzz: pruneBottomQuantile == percentile model ($Cases cases)") {
    val pool = Seq("the", "a", "of", "scan", "merge", "hash", "row", "x")
    val gen = for {
      n <- Gen.choose(1, 50)
      docs <- Gen.listOfN(n, for {
        w <- Gen.choose(0, 10)
        words <- Gen.listOfN(w, Gen.oneOf(pool))
      } yield words.mkString(" "))
      q <- Gen.oneOf(0.0, 0.25, 0.5, 0.75)
    } yield (docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }, q)
    val stop = Set("the", "a", "an", "of", "and", "to", "in", "is")
    check("prune")(Prop.forAllNoShrink(gen) { case (docs, q) =>
      val scores = docs.map { case (id, text) =>
        // qualityFeatures' documented formula over the RAW split count
        // ("" splits to [""]: n_words = 1) — the model re-derives it
        val toks = text.split("\\s+").toSeq
        val nWords = toks.length
        val nStop = toks.count(stop)
        val score = math.min(nWords, 200).toDouble / 400.0 +
          (nStop.toDouble / nWords) / 2.0
        (id, score)
      }
      // Spark exact-percentile interpolation over the sorted scores
      val sorted = scores.map(_._2).sorted
      val pos = q * (sorted.length - 1)
      val (lo, hi) = (math.floor(pos).toInt, math.ceil(pos).toInt)
      val thr =
        if (lo == hi) sorted(lo)
        else sorted(lo) * (hi - pos) + sorted(hi) * (pos - lo)
      val model = scores.filter(_._2 >= thr).map(_._1).toSet
      val got = TextAnalysis.pruneBottomQuantile(
          docs.toDF("doc_id", "text"), "text", q, Seq("doc_id"))
        .select("doc_id").as[Long].collect().toSet
      got == model
    })
  }

  // ——— resample-sum vs day-floor model ———

  test(s"fuzz: resampleSum == day-floor model ($Cases cases)") {
    val gen = for {
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, for {
        id <- Gen.choose(0, 3)
        t <- Gen.choose(0L, 3L * 86400 - 1) // three UTC days
        v <- Gen.choose(-50, 50)
      } yield (s"e$id", t, v.toDouble))
    } yield rows
    check("resample")(Prop.forAllNoShrink(gen) { rows =>
      val model = rows.groupBy(r => (r._1, r._2 / 86400 * 86400))
        .map { case ((id, day), members) =>
          (id, day, members.map(_._3).sum) }.toSet
      val got = TimeSeriesOps.resampleSum(
          rows.toDF("id", "t", "v")
            .withColumn("ts", col("t").cast("timestamp")),
          "id", "ts", Seq("v"))
        .select(col("id"), col("bucket").cast("long"), col("v"))
        .as[(String, Long, Double)].collect().toSet
      got == model
    })
  }

  // ——— dedup keep-first vs min-by model (null order keys included) ———

  test(s"fuzz: dedupKeepFirst == min-by model ($Cases cases)") {
    val gen = for {
      n <- Gen.choose(0, 50)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0, 5)
        v <- Gen.choose(-100, 100)
      } yield (k, v))
    } yield {
      // unique order values per key (ties make the survivor unspecified);
      // one NULL order row per even key exercises the NULLS FIRST path
      val ordered = rows.zipWithIndex.map { case ((k, v), i) =>
        (k, Some(i.toLong), v) }
      val withNulls = ordered.map {
        case (k, Some(o), v) if k % 2 == 0 && o == ordered
          .filter(_._1 == k).flatMap(_._2).min => (k, None: Option[Long], v)
        case r => r
      }
      withNulls
    }
    check("dedup-first")(Prop.forAllNoShrink(gen) { rows =>
      val model = rows.groupBy(_._1).map { case (_, members) =>
        members.minBy { case (_, ord, _) =>
          (ord.isDefined, ord.getOrElse(Long.MinValue)) }
      }.toSet
      val got = TimeSeriesOps.dedupKeepFirst(
          rows.toDF("k", "ord", "v"), Seq("k"), "ord")
        .as[(Int, Option[Long], Int)].collect().toSet
      got == model
    })
  }

  // ——— context-window chunking vs offset-grid model ———

  test(s"fuzz: chunkByTokens == offset-grid model ($Cases cases)") {
    val gen = for {
      n <- Gen.choose(0, 12)
      docs <- Gen.listOfN(n, for {
        w <- Gen.choose(0, 20)
        words <- Gen.listOfN(w, Gen.oneOf("aa", "b", "ccc"))
        pad <- Gen.oneOf("", " ", "  ") // leading-whitespace artifacts
      } yield pad + words.mkString(" "))
      size <- Gen.choose(1, 8)
      stride <- Gen.choose(1, 8)
    } yield (docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }, size, stride)
    check("chunk")(Prop.forAllNoShrink(gen) { case (docs, size, stride) =>
      val model = docs.flatMap { case (id, text) =>
        val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
        (0 until toks.length by stride).zipWithIndex.map { case (off, ci) =>
          val c = toks.slice(off, off + size)
          (id, ci, c.length, c.mkString(" "))
        }
      }.toSet
      val got = TextAnalysis.chunkByTokens(
          docs.toDF("doc_id", "text"), "text", size, stride)
        .select("doc_id", "chunk_id", "n_tok", "chunk_text")
        .as[(Long, Int, Int, String)].collect().toSet
      got == model
    })
  }

  // ——— boilerplate removal vs line-df model ———

  test(s"fuzz: removeBoilerplateLines == line-df model ($Cases cases)") {
    val linePool = Seq("cookie banner", "share", "", "body text",
      "footer", "x", "yy")
    val gen = for {
      n <- Gen.choose(0, 10)
      docs <- Gen.listOfN(n, for {
        m <- Gen.choose(0, 6)
        lines <- Gen.listOfN(m, Gen.oneOf(linePool))
      } yield lines.mkString("\n"))
      minDf <- Gen.choose(2, 4)
    } yield (docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }, minDf)
    check("boilerplate")(Prop.forAllNoShrink(gen) { case (docs, minDf) =>
      val df = docs.map { case (_, text) =>
        text.split("\n", -1).filter(_.nonEmpty).distinct
      }.flatten.groupBy(identity).view.mapValues(_.length).toMap
      val model = docs.map { case (id, text) =>
        (id, text.split("\n", -1)
          .filter(l => l.isEmpty || df.getOrElse(l, 0) < minDf)
          .mkString("\n"))
      }.toSet
      val got = TextAnalysis.removeBoilerplateLines(
          docs.toDF("doc_id", "text"), "text", minDf.toLong)
        .select("doc_id", "clean")
        .as[(Long, String)].collect().toSet
      got == model
    })
  }

  // ——— stratified portable sampling vs md5-gate model ———

  test(s"fuzz: stratifiedSample(portable) == md5-gate model ($Cases cases)") {
    val gen = for {
      n <- Gen.choose(0, 60)
      keys <- Gen.listOfN(n, Gen.choose(0L, 10000L))
      strata <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
      ra <- Gen.choose(0, 100)
      rb <- Gen.choose(0, 100)
      dflt <- Gen.choose(0, 100)
    } yield (keys.zip(strata).zipWithIndex.map { case ((k, s), i) =>
      (i.toLong, k, s) }, ra, rb, dflt)
    check("stratified")(Prop.forAllNoShrink(gen) { case (rows, ra, rb, dflt) =>
      def pct(s: String) = s match {
        case "a" => ra; case "b" => rb; case _ => dflt }
      val model = rows.filter { case (_, k, s) =>
        java.lang.Long.parseLong(md5hex(k.toString).take(8), 16) % 100 < pct(s)
      }.map(_._1).toSet
      val got = Sampling.stratifiedSample(
          rows.toDF("row_id", "key", "stratum"),
          col("key"), col("stratum"),
          Seq("a" -> ra, "b" -> rb), dflt)
        .select("row_id").as[Long].collect().toSet
      got == model
    })
  }

  // ——— URL host/registered-domain extraction vs regex model ———

  test(s"fuzz: UrlOps host/registeredDomain == regex model ($Cases cases)") {
    // composes what a crawl throws at the extractor — schemeless //,
    // uppercase schemes/hosts, userinfo, trailing dots, bare single
    // labels, bracketed IPv6, missing //, empty host before a port —
    // the model applies the SAME documented pattern + label rules
    // independently (java.util.regex + plain splits)
    val pat = java.util.regex.Pattern.compile(UrlOps.HostPattern)
    def modelHost(url: String): String = {
      val m = pat.matcher(url)
      if (m.find) { val h = m.group(1).toLowerCase; if (h.isEmpty) null else h }
      else null
    }
    def modelDomain(host: String): String =
      if (host == null) null
      else {
        val parts = host.split("\\.", -1) // Spark split keeps trailing empties
        val last2 = parts.takeRight(2).mkString(".")
        if (parts.length >= 3 &&
            UrlOps.DefaultMultiLabelSuffixes.contains(last2))
          parts.takeRight(3).mkString(".")
        else if (parts.length >= 2) last2
        else host
      }
    val gen = for {
      n <- Gen.choose(0, 25)
      urls <- Gen.listOfN(n, for {
        scheme <- Gen.oneOf("", "http:", "HTTPS:", "ftp+x.y:", "http")
        slashes <- Gen.oneOf("//", "/", "")
        user <- Gen.oneOf("", "u@", "u:pw@")
        hostPart <- Gen.oneOf("Site1.com", "a.b.co.uk", "localhost",
          "x.Y.z.com", "example.com.", "co.uk", "[::1]", "sub.gov.uk", "")
        port <- Gen.oneOf("", ":8443", ":x")
        path <- Gen.oneOf("", "/", "/p?q=1#f", "?q", "#f")
      } yield scheme + slashes + user + hostPart + port + path)
    } yield urls.zipWithIndex.map { case (u, i) => (i.toLong, u) }
    check("url")(Prop.forAllNoShrink(gen) { rows =>
      val model = rows.map { case (id, u) =>
        val h = modelHost(u); (id, h, modelDomain(h))
      }.toSet
      val got = UrlOps.withUrlParts(rows.toDF("row_id", "url"), "url")
        .select("row_id", "host", "domain")
        .as[(Long, String, String)].collect().toSet
      got == model
    })
  }

  // ——— calendarFill vs grid model ———

  test(s"fuzz: calendarFill == full-grid model ($Cases cases)") {
    // random sparse (entity, day, value) observations; the model builds
    // the [global min-day, global max-day] grid per entity and zero-fills
    val gen = for {
      nIds <- Gen.choose(1, 4)
      n <- Gen.choose(1, 35) // calendarFill's bounds need >= 1 row
      rows <- Gen.listOfN(n, for {
        id <- Gen.choose(0, nIds - 1)
        d <- Gen.choose(0, 25)
        v <- Gen.choose(1, 99)
      } yield (id, d, v))
    } yield rows.groupBy(r => (r._1, r._2)) // one value per (id, day)
      .map(_._2.head).toList
    check("calendarFill")(Prop.forAllNoShrink(gen) { rows =>
      val df = rows.toDF("id", "d", "v")
        .select(col("id"),
          expr("date_add(date '2024-01-01', d)").as("day"),
          col("v").cast("double").as("v"))
      val got = graft.ops.TimeSeriesOps
        .calendarFill(df, "id", "day", Seq("v"))
        .select(col("id"), expr("datediff(day, date '2024-01-01')"), col("v"))
        .as[(Int, Int, Double)].collect().toSet
      val lo = rows.map(_._2).min
      val hi = rows.map(_._2).max
      val byKey = rows.map(r => (r._1, r._2) -> r._3.toDouble).toMap
      val model = rows.map(_._1).distinct.flatMap(id =>
        (lo to hi).map(d => (id, d, byKey.getOrElse((id, d), 0.0)))).toSet
      got == model
    })
  }

  // ——— band join vs nested-loop model ———

  test(s"fuzz: band join == nested-loop model ($Cases cases)") {
    // |a - b| <= width pairs between two small frames; the model is the
    // quadratic scan the range-condition join must reproduce exactly
    val gen = for {
      na <- Gen.choose(0, 25)
      as <- Gen.listOfN(na, Gen.choose(-50L, 50L))
      nb <- Gen.choose(0, 25)
      bs <- Gen.listOfN(nb, Gen.choose(-50L, 50L))
      w <- Gen.choose(0L, 15L)
    } yield (as.zipWithIndex.map { case (v, i) => (i.toLong, v) },
      bs.zipWithIndex.map { case (v, i) => (i.toLong, v) }, w)
    check("band")(Prop.forAllNoShrink(gen) { case (as, bs, w) =>
      val a = as.toDF("aid", "av")
      val b = bs.toDF("bid", "bv")
      val got = a.join(b,
          col("bv") >= col("av") - w && col("bv") <= col("av") + w)
        .select("aid", "bid").as[(Long, Long)].collect().toSet
      val model = (for {
        (aid, av) <- as
        (bid, bv) <- bs
        if math.abs(av - bv) <= w
      } yield (aid, bid)).toSet
      got == model
    })
  }

  // ——— sessionize vs linear-scan model ———

  test(s"fuzz: sessionize == gap-split model ($Cases cases)") {
    // random per-key event times (with duplicates — orderCols breaks the
    // tie) and random gap; the model sorts each key's events and starts a
    // session wherever the gap exceeds the threshold
    val gen = for {
      nKeys <- Gen.choose(1, 3)
      n <- Gen.choose(0, 40)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0, nKeys - 1)
        t <- Gen.choose(0L, 120L)
      } yield (k, t))
      gap <- Gen.choose(1L, 40L)
    } yield (rows.zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) },
      gap)
    check("sessionize")(Prop.forAllNoShrink(gen) { case (rows, gap) =>
      val df = rows.toDF("k", "t", "eid")
        .withColumn("ts", expr("timestamp_seconds(t)"))
      val got = graft.ops.TimeSeriesOps
        .sessionize(df, Seq("k"), "ts", gap, orderCols = Seq("eid"))
        .select(col("eid"), col("session_id"))
        .as[(Long, Long)].collect().toMap
      val model = rows.groupBy(_._1).flatMap { case (_, evs) =>
        val sorted = evs.sortBy(e => (e._2, e._3))
        var sid = 0L
        var prev = Long.MinValue
        sorted.map { case (_, t, eid) =>
          if (prev == Long.MinValue || t - prev > gap) sid += 1
          prev = t
          (eid, sid)
        }
      }
      got == model
    })
  }

  // ——— capPerHost vs md5-priority model (incl. null-host passthrough) ———

  test(s"fuzz: capPerHost == priority model, null hosts pass through ($Cases cases)") {
    val hosts = Vector("a.com", "b.org", "c.net")
    val gen = for {
      n <- Gen.choose(0, 40)
      rows <- Gen.listOfN(n, for {
        h <- Gen.choose(0, hosts.length) // == length -> unparseable URL
      } yield h)
      k <- Gen.choose(1, 4)
    } yield (rows.zipWithIndex.map { case (h, i) =>
      (i.toLong,
        if (h == hosts.length) "not a url"
        else s"https://${hosts(h)}/p/$i")
    }, k)
    check("capPerHost")(Prop.forAllNoShrink(gen) { case (rows, k) =>
      val got = UrlOps.capPerHost(
          rows.toDF("doc_id", "url"), "url", "doc_id", k)
        .select(col("doc_id"), col("host"), col("rank"))
        .as[(Long, Option[String], Option[Int])].collect().toSet
      val model = rows.flatMap { case (id, url) =>
        val h = hosts.find(x => url.contains(x))
        h match {
          case None => Some((id, None, None)) // null-host rows survive uncapped
          case Some(host) =>
            val peers = rows.filter(_._2.contains(host))
              .map(r => (md5hex(s"${r._1}:42"), r._1))
              .sorted
            val rank = peers.indexWhere(_._2 == id) + 1
            if (rank <= k) Some((id, Some(host), Some(rank))) else None
        }
      }.toSet
      got == model
    })
  }

  // ——— repetitionStats vs multiset model ———

  test(s"fuzz: repetitionStats == multiset model ($Cases cases)") {
    // random texts incl. empty strings and leading/trailing/multiple
    // whitespace; the model replicates the kernel's documented Pattern
    // .split(text, -1) semantics (a leading empty token survives) exactly
    val pat = java.util.regex.Pattern.compile("\\s+")
    val gen = for {
      nDocs <- Gen.choose(0, 12)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(0, 8)
        ws <- Gen.listOfN(len, Gen.oneOf("a", "b", "ab"))
        lead <- Gen.oneOf("", " ", "  ")
        sep <- Gen.oneOf(" ", "  ")
      } yield lead + ws.mkString(sep))
      n <- Gen.choose(1, 3)
    } yield (docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }, n)
    check("repetition")(Prop.forAllNoShrink(gen) { case (docs, n) =>
      val got = graft.ext.TextAnalysis
        .repetitionStats(docs.toDF("doc_id", "text"), "doc_id", "text", n)
        .select("doc_id", "n_tokens", "n_grams", "n_distinct", "top_count")
        .as[(Long, Int, Int, Int, Int)].collect().toSet
      val model = docs.map { case (id, t) =>
        val toks = pat.split(t, -1).toSeq
        val grams = toks.sliding(n).filter(_.size == n)
          .map(_.mkString(" ")).toSeq
        val byGram = grams.groupBy(identity)
        (id, toks.size, grams.size, byGram.size,
          if (grams.isEmpty) 0 else byGram.values.map(_.size).max)
      }.toSet
      got == model
    })
  }

  // ——— topTokens vs count-and-rank model ———

  test(s"fuzz: topTokens == count-and-rank model ($Cases cases)") {
    val vocab = Vector("x", "y", "z", "w", "v")
    val gen = for {
      nDocs <- Gen.choose(0, 10)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(0, 10)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws)
      k <- Gen.choose(1, 6)
    } yield (docs, k)
    check("topTokens")(Prop.forAllNoShrink(gen) { case (docs, k) =>
      val df = docs.zipWithIndex
        .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val got = graft.ext.TextAnalysis.topTokens(df, "text", k)
        .select("rank", "token", "n")
        .as[(Int, String, Long)].collect().toSeq.sorted
      val counts = docs.flatten.groupBy(identity)
        .map { case (t, l) => (t, l.size.toLong) }.toSeq
      val model = counts.sortBy { case (t, c) => (-c, t) }.take(k)
        .zipWithIndex.map { case ((t, c), i) => (i + 1, t, c) }.sorted
      got == model
    })
  }

  test(s"fuzz: minHashCrossPairsPortable == md5-signature model ($Cases cases)") {
    // the model re-derives EVERYTHING from scratch: distinct word
    // trigrams, md5-prefix shingle hashes, the 4 portable permutations,
    // min-per-permutation signatures (sentinel p for shingle-less docs),
    // band agreement as explicit conjunctions, and the threshold — the
    // full cross-corpus candidate+verify semantics the DuckDB oracle pins
    // on fixed SFs, here on randomized adversarial shapes (empty docs,
    // heavy collisions from a tiny vocab, exact cross-split duplicates)
    import graft.ext.Dedup
    val p = Dedup.PortableP
    def sigOf(ws: Seq[String]): Seq[Long] = {
      val grams = ws.sliding(3).filter(_.size == 3).map(_.mkString(" "))
        .toSeq.distinct
      val hs = grams.map(g => java.lang.Long.parseLong(md5hex(g).take(7), 16))
      Dedup.PortableCoeffs.map { case (a, b) =>
        if (hs.isEmpty) p else hs.map(h => (h * a + b) % p).min
      }
    }
    val vocab = Vector("a", "b", "c", "d", "e")
    val gen = for {
      nDocs <- Gen.choose(0, 14)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(0, 12)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws)
      nDups <- Gen.choose(0, 3)
    } yield (docs, nDups)
    check("cross-minhash")(Prop.forAllNoShrink(gen) { case (docs0, nDups) =>
      // exact duplicates with parity-flipping ids → guaranteed
      // cross-split near-dups
      val docs = docs0 ++ docs0.take(nDups)
      val rows = docs.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" "))
      }
      val df = rows.toDF("doc_id", "text")
      val corpus = df.filter(col("doc_id") % 2 === 0)
      val bench = df.filter(col("doc_id") % 2 === 1)
      val got = Dedup.minHashCrossPairsPortable(corpus, bench,
          "doc_id", "doc_id", "text", "text")
        .as[(Long, Long, Double)].collect().toSet
      val sigs = docs.zipWithIndex.map { case (ws, i) => i.toLong -> sigOf(ws) }
      val model = (for {
        (ia, sa) <- sigs if ia % 2 == 0
        (ib, sb) <- sigs if ib % 2 == 1
        bandMatch = (sa(0) == sb(0) && sa(1) == sb(1)) ||
          (sa(2) == sb(2) && sa(3) == sb(3))
        mc = sa.zip(sb).count { case (x, y) => x == y }
        sim = math.rint(mc / 4.0 * 1e6) / 1e6
        if bandMatch && sim >= 0.5
      } yield (ia, ib, sim)).toSet
      if (got != model) {
        System.err.println(s"cross-minhash mismatch: docs=$docs")
        System.err.println(s"got=$got\nmodel=$model")
      }
      got == model
    })
  }

  test(s"fuzz: repeatedSpans/dropRepeatedSpans == window-string model ($Cases cases)") {
    // from-scratch model of the ExactSubstr semantics: -1-limit \s+ split,
    // n-token window strings with 1-based positions, global counts,
    // keeper = lexicographically first (doc, pos), mask covered tokens of
    // every non-keeper occurrence, rejoin with single spaces (docs with no
    // drop keep the original text). Tiny vocab → heavy window collisions.
    import graft.ext.Dedup
    val vocab = Vector("a", "b", "c")
    val gen = for {
      nDocs <- Gen.choose(0, 8)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(0, 12)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws.mkString(" "))
      n <- Gen.choose(2, 4)
    } yield (docs, n)
    check("span-dedup")(Prop.forAllNoShrink(gen) { case (docs, n) =>
      val rows = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val df = rows.toDF("doc_id", "text")
      val toks: Map[Long, Array[String]] = rows.map { case (id, t) =>
        id -> java.util.regex.Pattern.compile("\\s+").split(t, -1)
      }.toMap
      val occ: Seq[(Long, Int, String)] = rows.flatMap { case (id, _) =>
        val ts = toks(id)
        (0 to ts.length - n).map(i =>
          (id, i + 1, ts.slice(i, i + n).mkString(" ")))
      }
      val counts = occ.groupBy(_._3).map { case (g, l) => g -> l }
      val repeated = counts.filter(_._2.size >= 2)
      val spanModel = (for {
        (_, l) <- repeated; (id, pos, _) <- l
      } yield (id, pos.toLong, l.size.toLong)).toSet
      val gotSpans = Dedup.repeatedSpans(df, "doc_id", "text", n)
        .as[(Long, Long, Long)].collect().toSet
      val dropped: Map[Long, Seq[Int]] = (for {
        (_, l) <- repeated.toSeq
        keeper = l.minBy(o => (o._1, o._2))
        (id, pos, _) <- l if (id, pos) != ((keeper._1, keeper._2))
      } yield (id, pos)).groupBy(_._1)
        .map { case (id, l) => id -> l.map(_._2).sorted }
      val rewriteModel = rows.map { case (id, t) =>
        dropped.get(id) match {
          case None => id -> Option(t)
          case Some(starts) =>
            val ts = toks(id)
            val kept = ts.zipWithIndex.collect {
              case (tk, i) if !starts.exists(s => i + 1 >= s && i + 1 < s + n) => tk
            }
            id -> Option(kept.mkString(" "))
        }
      }.toMap
      val gotRewrite = Dedup.dropRepeatedSpans(df, "doc_id", "text", n)
        .select("doc_id", "text").as[(Long, Option[String])].collect().toMap
      val ok = gotSpans == spanModel && gotRewrite == rewriteModel
      if (!ok) {
        System.err.println(s"span-dedup mismatch: docs=$docs n=$n")
        System.err.println(s"spans got=$gotSpans model=$spanModel")
        System.err.println(s"rw got=$gotRewrite model=$rewriteModel")
      }
      ok
    })
  }

  test(s"fuzz: FuzzyContaminationGate(batch) == fuzzyDecontaminate ($Cases cases)") {
    // the streaming gate's candidates come from exact band-SLICE equality
    // (MaxBandedSigAgreement index) where the batch join uses band-HASH
    // equality — identical unless two different slices collide at 64 bits.
    // This replays random corpora through BOTH and demands survivor-set
    // equality; a tiny vocab forces heavy real collisions of CONTENT
    // (equal slices), which is exactly where the index path must agree.
    import graft.ext.Dedup
    val vocab = Vector("a", "b", "c", "d")
    val gen = for {
      nCorpus <- Gen.choose(0, 12)
      nBench <- Gen.choose(0, 6)
      mk = (n: Int) => Gen.listOfN(n, for {
        len <- Gen.choose(0, 14)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws.mkString(" "))
      corpus <- mk(nCorpus)
      bench <- mk(nBench)
      thr <- Gen.oneOf(0.3, 0.5, 0.8)
    } yield (corpus, bench, thr)
    check("fuzzy-gate")(Prop.forAllNoShrink(gen) { case (corpus, bench, thr) =>
      val cdf = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val bdf = bench.zipWithIndex.map { case (t, i) => (1000L + i, t) }
        .toDF("bench_id", "text")
      val joined = Dedup.fuzzyDecontaminate(cdf, bdf, "doc_id", "bench_id",
          "text", "text", threshold = thr, numHashes = 16, bands = 4)
        .select("doc_id").as[Long].collect().toSet
      val gated = graft.streaming.FuzzyContaminationGate(cdf, bdf,
          "text", "text", threshold = thr, numHashes = 16, bands = 4)
        .select("doc_id").as[Long].collect().toSet
      if (joined != gated) System.err.println(
        s"fuzzy-gate mismatch thr=$thr corpus=$corpus bench=$bench " +
          s"joined=$joined gated=$gated")
      joined == gated
    })
  }

  test(s"fuzz: contaminationAttribution == set-arithmetic model ($Cases cases)") {
    // from-scratch model: distinct trigram sets both sides, per-pair
    // intersection sizes, benchmark-relative threshold, per-bench-doc
    // count + max fraction. xxhash64 is equality-only here, so the model
    // works on gram strings directly (the ngram-fuzz precedent).
    import graft.ext.Dedup
    val vocab = Vector("a", "b", "c", "d")
    val gen = for {
      nCorpus <- Gen.choose(0, 10)
      nBench <- Gen.choose(0, 5)
      mk = (n: Int) => Gen.listOfN(n, for {
        len <- Gen.choose(0, 12)
        ws <- Gen.listOfN(len, Gen.oneOf(vocab))
      } yield ws)
      corpus <- mk(nCorpus)
      bench <- mk(nBench)
      frac <- Gen.oneOf(0.25, 0.5, 0.75)
    } yield (corpus, bench, frac)
    check("contam-attrib")(Prop.forAllNoShrink(gen) { case (corpus, bench, frac) =>
      def grams(ws: Seq[String]): Set[String] =
        ws.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
      val cdf = corpus.zipWithIndex.map { case (ws, i) =>
        (i.toLong, ws.mkString(" ")) }.toDF("doc_id", "text")
      val bdf = bench.zipWithIndex.map { case (ws, i) =>
        (100L + i, ws.mkString(" ")) }.toDF("bench_id", "text")
      val got = Dedup.contaminationAttribution(cdf, bdf, "doc_id",
          "bench_id", "text", "text", n = 3, minFraction = frac)
        .as[(Long, Long, Double)].collect().toSet
      val cg = corpus.zipWithIndex.map { case (ws, i) => i.toLong -> grams(ws) }
      val model = bench.zipWithIndex.flatMap { case (ws, bi) =>
        val bg = grams(ws)
        if (bg.isEmpty) None
        else {
          val hits = cg.collect { case (_, g)
            if (g & bg).size >= bg.size * frac && (g & bg).nonEmpty => (g & bg).size }
          // the engine's join produces no row for zero overlap even at
          // minFraction 0 — mirror that
          val real = cg.collect { case (_, g)
            if (g & bg).nonEmpty && (g & bg).size >= bg.size * frac => (g & bg).size }
          if (real.isEmpty) None
          else Some((100L + bi, real.size.toLong,
            math.rint(real.max.toDouble / bg.size * 1e6) / 1e6))
        }
      }.toSet
      if (got != model) System.err.println(
        s"attrib mismatch frac=$frac corpus=$corpus bench=$bench got=$got model=$model")
      got == model
    })
  }

  test(s"fuzz: Misra-Gries invariants vs exact counts ($Cases cases)") {
    // MG output is input-order-dependent in its ties, so the model checks
    // INVARIANTS, not equality: (a) containment — every emitted token's
    // true count lies in [count_lo, count_lo + max_undercount]; (b)
    // retention — every token with true count > max_undercount is
    // emitted; (c) at capacity >= distinct tokens the summary IS exact
    val vocab = (0 until 40).map(i => s"t$i").toVector
    val gen = for {
      nDocs <- Gen.choose(0, 30)
      docs <- Gen.listOfN(nDocs, for {
        len <- Gen.choose(0, 15)
        ws <- Gen.listOfN(len, Gen.frequency(
          (5, Gen.oneOf(vocab.take(4))), (1, Gen.oneOf(vocab))))
      } yield ws.mkString(" "))
      capacity <- Gen.choose(2, 50)
      parts <- Gen.choose(1, 6)
    } yield (docs, capacity, parts)
    check("misra-gries")(Prop.forAllNoShrink(gen) { case (docs, capacity, parts) =>
      val exact = docs.flatMap(_.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).map { case (t, l) => t -> l.size.toLong }
      val df = docs.toDF("text").repartition(parts)
      val got = graft.ext.TextAnalysis
        .approxTopTokens(df, "text", capacity, capacity)
        .select("token", "count_lo", "max_undercount")
        .as[(String, Long, Long)].collect().toSeq
      val contained = got.forall { case (t, lo, d) =>
        val tru = exact(t); lo <= tru && tru <= lo + d
      }
      val delta = got.headOption.map(_._3).getOrElse(0L)
      val present = got.map(_._1).toSet
      val retained = exact.forall { case (t, tru) =>
        tru <= delta || present.contains(t)
      }
      val exactWhenBig = capacity < exact.size ||
        (got.map(r => r._1 -> r._2).toMap == exact && got.forall(_._3 == 0L))
      val ok = contained && retained && exactWhenBig
      if (!ok) System.err.println(
        s"MG mismatch: cap=$capacity parts=$parts docs=$docs got=$got exact=$exact")
      ok
    })
  }

  test("Inflate: stored writers and gunzip vs java.util.zip; corruption is loud") {
    // graft.ext.Inflate decodes through the JDK's zlib, so what is left to
    // check is our own framing: the STORED-block writers (read back by
    // both our readers and the JDK's) and the gzip member walk
    val rnd = new scala.util.Random(0xC0DEC17L)
    val data = new Array[Byte](4096)
    rnd.nextBytes(data)
    val z = graft.ext.Inflate.zlibDeflateStored(data)
    assert(java.util.Arrays.equals(
      graft.ext.Inflate.zlibInflate(z), data))
    // more than 65535 bytes: several stored blocks, read by java Inflater
    val big = Array.tabulate(150000)(i => (i * 31 + i / 977).toByte)
    val zb = graft.ext.Inflate.zlibDeflateStored(big)
    val jin = new java.util.zip.InflaterInputStream(
      new java.io.ByteArrayInputStream(zb))
    assert(java.util.Arrays.equals(jin.readAllBytes(), big),
      "java InflaterInputStream rejects our stored-block zlib")
    assert(java.util.Arrays.equals(
      graft.ext.Inflate.zlibInflate(zb), big))
    // corrupt Adler must fail loudly
    z(z.length - 1) = (z(z.length - 1) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException](
      graft.ext.Inflate.zlibInflate(z))
    assert(e.getMessage.contains("Adler-32"))
    // gzip wrapper: java.util.zip.GZIPOutputStream (independent RFC
    // 1952 writer) -> our gunzip, multi-member concatenation included
    val buf = new java.io.ByteArrayOutputStream()
    val parts = (0 until 3).map { k =>
      val g = new java.util.zip.GZIPOutputStream(buf)
      val part = new Array[Byte](1000 + 700 * k)
      rnd.nextBytes(part)
      g.write(part); g.finish(); g.close()
      part
    }
    // cross-direction: our stored-gzip must satisfy the independent
    // java reader too
    val own = graft.ext.Inflate.gzipStored(data)
    val gin = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(own))
    val back = gin.readAllBytes()
    assert(java.util.Arrays.equals(back, data),
      "java GZIPInputStream rejects our stored-block gzip")
    val viaOurs = graft.ext.Inflate.gunzip(buf.toByteArray)
    assert(viaOurs.length == 1000 + 1700 + 2400,
      "multi-member gunzip lost bytes")
    assert(java.util.Arrays.equals(viaOurs, parts.reduce(_ ++ _)))
    // and a corrupt member CRC fails loudly
    val gbad = graft.ext.Inflate.gzipStored(data)
    gbad(gbad.length - 6) = (gbad(gbad.length - 6) ^ 1).toByte
    val ge = intercept[IllegalArgumentException](
      graft.ext.Inflate.gunzip(gbad))
    assert(ge.getMessage.contains("CRC"))
    // bytes after the last member fail loudly (GZIPInputStream would
    // return the members it read and drop the rest without a word) ...
    val junk = buf.toByteArray ++ Array.fill[Byte](40)(0x5a)
    val je = intercept[IllegalArgumentException](
      graft.ext.Inflate.gunzip(junk))
    assert(je.getMessage.contains("bad member magic"))
    // ... and so does a member cut short inside its deflate body
    val cut = buf.toByteArray.dropRight(100)
    val ce = intercept[IllegalArgumentException](
      graft.ext.Inflate.gunzip(cut))
    assert(ce.getMessage.contains("truncated"))
  }
}
