package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guards the driver contract itself: the rows-only set (queries with
  * a NoOracle entry) must stay exactly the declared four, each naming a
  * spec test that exists — a new query registered without its oracle
  * would otherwise degrade SILENTLY to the driver's weaker rows-only
  * check and surface only in the round-end CORRECTNESS report.
  */
class ContractSpec extends AnyFunSuite {

  /** (path, text) of every .scala file under `root`, recursively — the
    * input of the source scans below.
    */
  private def sources(root: String): Seq[(String, String)] = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)
    files(new java.io.File(root)).filter(_.getName.endsWith(".scala")).map { f =>
      f.getPath -> new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
  }

  private def name(path: String): String = path.split('/').last

  test("every oracleSql key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
  }

  private val noOracle: Map[String, SparkEntry.NoOracle] =
    SparkEntry.ops.collect { case (k, SparkEntry.Op(_, n: SparkEntry.NoOracle)) => k -> n }

  test("the rows-only set is exactly the declared q13/q26/q61/qd24") {
    // q13's greedy k-center, q26's MLlib solver internals, q61's
    // boosted-tree split search, and qd24's data-dependent fixpoint
    // pass count are the only computations with no SQL analogue; all
    // four are spec-verified (qd24's oracle-mirrorable twin is qd21)
    assert(noOracle.keySet === Set("q13_coreset", "q26_mllib_forecast", "q61_gbt_forecast",
        "qd24_span_fixpoint"),
      "a query lost (or gained) its oracle without the declaration moving")
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet === noOracle.keySet)
  }

  test("every NoOracle entry names an existing spec test that gates it") {
    noOracle.foreach { case (k, n) =>
      val suite = Class.forName(n.spec).getDeclaredConstructor().newInstance()
        .asInstanceOf[org.scalatest.Suite]
      assert(suite.testNames.contains(n.test), s"$k: ${n.spec} has no test '${n.test}'")
    }
  }

  test("exactly one file under src/main builds a SparkSession") {
    // graft.Session is the one session factory: a second builder would
    // fork the settings every main, tool and spec is meant to share
    val builders = sources("src/main").collect {
      case (path, src) if src.contains("SparkSession.builder") => path.stripPrefix("src/main/scala/")
    }
    assert(builders === Seq("graft/Session.scala"))
  }

  test("the 3-regressor Cramer solve is written once in Spark and once in the oracle") {
    // timeseries.Ols is the one Spark least-squares solve and
    // TsOracle.olsCtes its one SQL twin: a hand-written copy would have
    // to repeat their exact floating-point operation sequence to keep
    // bit parity. Unwrap col("s11_") / s("s11") references so Column
    // code and SQL text match the same determinant pattern.
    val det = """\bs11\w* \* \(s22\w* \* s33\w* - s23\w* \* s23\w*\)""".r
    val counts = sources("src/main/scala/graft/timeseries").map { case (path, src) =>
      name(path) -> det.findAllMatchIn(src.replaceAll("""\w+\("(\w+)"\)""", "$1")).size
    }.filter(_._2 > 0).toMap
    assert(counts === Map("Ols.scala" -> 1, "TsOracle.scala" -> 1))
  }

  test("the Gauss-Jordan elimination step is written once in Spark and once in the oracle") {
    // Ols.gaussJordan is the one Spark elimination (q10's inverse, q56's
    // ridge solve) and TsOracle.gaussJordanCtes its one SQL twin. The
    // step's other-row update is x − y·(p / q); squeeze the spaces out of
    // ${…} splices and after commas so Column code and SQL text match the
    // same pattern.
    val step = """\S+ - \S+ \* \(\S+ / \S+\)""".r
    val timeseries = sources("src/main/scala/graft/timeseries").map { case (p, src) => name(p) -> src }
    val counts = timeseries.map { case (file, src) =>
      val squeezed = """\$\{[^}]*\}""".r
        .replaceAllIn(src, m => scala.util.matching.Regex.quoteReplacement(
          m.matched.replaceAll("\\s", "")))
        .replace(", ", ",")
      file -> step.findAllMatchIn(squeezed).size
    }.filter(_._2 > 0).toMap
    assert(counts === Map("Ols.scala" -> 1, "TsOracle.scala" -> 1))
    // q10's inverse runs in the plan: no driver-side copy, no round-trip
    val detect = timeseries.toMap.apply("Detect.scala")
    assert(Seq("invertGaussJordan", "createDataFrame").filter(detect.contains).isEmpty)
  }

  test("q11/q12 have one bank-kNN route: no pairwise fallback or exact/capped forks") {
    // Detect.knnRef's packed graft_knn scan is the only kNN route; the
    // pairwise self-join lives on only as DetectSpec's reference
    val banned = Seq("pairwiseRef", "KnnBroadcastMaxBytes", "lofWeightExact",
      "lofWeightCapped", "nearestDistWeightExact")
    val selfJoin = """col\("a_id"\)\s*=!=\s*col\("b_id"\)""".r
    val hits = sources("src/main/scala/graft").flatMap { case (path, src) =>
      (banned.filter(src.contains) ++ selfJoin.findFirstIn(src).map(_ => "b_id self-join"))
        .map(h => s"${path.stripPrefix("src/main/scala/")}: $h")
    }
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("joins are plain Dataset.join calls and the oracles quantize through Num") {
    // a join forwards straight to Dataset.join (AQE sizes it at run
    // time); the dead salted aggregation stays deleted; the oracles
    // quantize through Num.r4sql / Num.sumQ4sql
    val scanned = sources("src").filter { case (path, _) => name(path) != "ContractSpec.scala" }
    val hits = scanned.flatMap { case (path, src) =>
      val banned = Seq("dimJoin", "util.Joins", "saltedStats", "def q4sum(") ++
        (if (Set("TsOracle.scala", "DocOracle.scala")(name(path))) Seq("def r4(") else Nil)
      banned.filter(src.contains).map(h => s"$path: $h")
    }
    assert(scanned.size > 1)
    assert(hits.isEmpty, hits.mkString("; "))
  }

  test("the forecast-error residual is quantized once in Spark and once in the oracle") {
    // Num.absErrQ4 / absErrQ4sql are the one definition of the 1e-4-grid
    // absolute residual every MAE and conformal rank reduces: Num writes
    // it once per engine (q4(abs(y - p)) and the abs($y - $p) SQL text),
    // and any abs(a - b) * 10000 under src/main is a hand-written copy.
    // One level of nested parens covers col("y") - col("p") in Column
    // code; the two hand-written shapes keep the pattern honest.
    val arg = """(?:[^()]|\([^()]*\))*"""
    val shape = ("""abs\(""" + arg + " - " + arg + """\)\s*\*\s*10000(d?)""").r
    assert(Seq("""floor(abs(col("y") - col("p")) * 10000d + 0.5d)""", "floor(abs(b.y - b.p)*10000 + 0.5)")
      .map(shape.findFirstMatchIn(_).map(_.group(1))) === Seq(Some("d"), Some("")))
    val main = sources("src/main/scala/graft")
    val copies = main.flatMap { case (path, src) => shape.findAllMatchIn(src).map(_ => path) }
    assert(copies.isEmpty, copies.mkString("; "))
    val num = main.collectFirst { case (p, src) if p.endsWith("/util/Num.scala") => src }.get
    assert("""abs\((\$?)y - \$?p\)""".r.findAllMatchIn(num).map(_.group(1)).toSeq.sorted === Seq("", "$"))
  }

  test("every grid step (1e-4, 1e-6, 1e-8) is written only in util/Num.scala") {
    // Num's private step forms are the one definition of floor(x·S + 0.5)
    // at every scale, in Column code, DuckDB text, Spark-SQL text and
    // driver scalars. A scale literal followed by + 0.5 anywhere else —
    // 10000, 1000000, 100000000 or 1e4/1e6/1e8, bare or with a d/D/.0
    // suffix, in code or comments, across line breaks — is a
    // hand-written copy. The shapes below keep the pattern honest.
    val step = """(?<![\w.])(?:10000|1000000|100000000|1e[468])(?:\.0+)?[dD]?\s*\+\s*0\.5""".r
    val shapes = Seq("floor(c * 10000d + 0.5d)", "floor((x)*10000 + 0.5)", "*10000.0D + 0.5D",
      "v[i]*1000000 + 0.5", "x\n  * 1000000D + 0.5D", "pow(b, k) * 1e8 + 0.5", "x * 1e6 + 0.5")
    assert(shapes.filter(step.findFirstIn(_).isEmpty).isEmpty)
    val copies = sources("src/main/scala/graft").flatMap { case (path, src) =>
      step.findAllMatchIn(src).map { m =>
        s"${path.stripPrefix("src/main/scala/")}:${src.take(m.start).count(_ == '\n') + 1}"
      }
    }.filterNot(_.startsWith("graft/util/Num.scala:"))
    assert(copies.isEmpty, s"${copies.size} hand-written grid steps:\n${copies.mkString("\n")}")
  }

  test("query keys follow the short-prefix naming the bench JSON relies on") {
    // Bench truncates each name at the first '_' AND drops the uniform
    // leading 'q' for the driver's 2000-byte output window; the q-less
    // prefixes must stay unique or timings would collide
    val prefixes = SparkEntry.queries.keySet.toSeq
      .map(_.takeWhile(_ != '_').drop(1))
    assert(prefixes.distinct.size === prefixes.size,
      "duplicate q-less prefixes would collide in the bench JSON")
    assert(SparkEntry.queries.keySet.forall(_.matches("^q[a-z]?\\d+_[a-z0-9_]+$")))
  }

  test("the bench JSON line fits the driver's 2000-byte output window") {
    // project the worst case Bench can emit: the 150 WIDEST-keyed
    // entries of the stdout cap at the widest 3-char adaptive value
    // rendering ("9.9" / "999"), the fixed envelope, the sf basename,
    // the `"more":N` omission marker, AND the capped errors tail
    // (2 names + nerr, modeled conservatively WITHOUT removing their
    // per-query entries) — truncation here is the BENCH_r03/r04
    // 'parsed: null' failure mode, caught at build time instead of
    // round end. The full per-query map lives in BENCH_DETAIL.json,
    // which has no byte window.
    val keys = SparkEntry.queries.keySet.toSeq
    val worstQueries = keys
      .map(k => "\"" + k.takeWhile(_ != '_').drop(1) + "\":999")
      .sortBy(-_.length).take(150)
      .mkString("{", ",", "}")
    val worstErrs = keys.map(k => "\"" + k.takeWhile(_ != '_').drop(1) + "\"")
      .sortBy(-_.length).take(2)
      .mkString(""","errors":[""", ",", s"""],"nerr":${keys.size}""")
    val worstLine =
      s"""{"metric":"total","value":9999.9,"unit":"sec","queries":$worstQueries,"more":${keys.size},"runs":[999,999,999],"calib":999$worstErrs,"sf":"sf0.001"}"""
    // budget is NOT the full 2000: sbt's trailing "[success] Total
    // time: ..." line (~80 B) lands in the same last-2000-bytes driver
    // capture AFTER the JSON line, so the line itself must leave room
    // for it or its head gets truncated (the BENCH_r03/r04 failure).
    assert(worstLine.length <= 1900,
      s"projected bench line ${worstLine.length} B — trim precision or keys before the 2000-B window truncates it")
  }
}
