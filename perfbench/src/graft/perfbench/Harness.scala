package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.{Main, SparkEntry, Tables}
import graft.cind.CindEngine
import graft.rdf.TripleSource
import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark harness. It drives the program only through its public
  * entry points (`Main.discover`, `TripleSource.derive` / `readTriples`,
  * `CindEngine`, `SparkEntry.queries`) on inputs generated elsewhere from a
  * seed, and checks every result against digests of the DuckDB oracle.
  *
  * {{{
  * Harness dump <out.json>
  * Harness run --workload W --data DIR --tiny DIR --expect FILE --out FILE
  *             --sidecar FILE --seconds S --trace 0|1 --setups N --cores C
  *             --local-dir DIR
  * }}}
  *
  * `dump` writes the oracle SQL, the triple CTE and `Tables.schemas` for the
  * generator and the oracle. `run` sets up the session `--setups` times
  * (each a fresh SparkContext plus one unmeasured warm-up on the tiny
  * input), times the control job, runs the workload's operation closed-loop
  * (one client, one operation at a time) for `--seconds`, and times the
  * control job again. With `--trace 1` it runs one untraced operation and
  * then one staged, traced pass instead. Results go to `--out` as JSON;
  * the trace and every sample go to `--sidecar`.
  */
object Harness {

  val Workloads = Seq("tpch-cind", "hub-cind")

  /** Declared triple queries the tpch-cind trace times, in name order. */
  val Queries = Seq("cind_condition_counts", "rdf_bgp_chain", "rdf_bgp_star",
    "rdf_dictionary_roundtrip", "rdf_path_transitive", "rdf_triples",
    "stats_count_triples", "stats_degree_distribution", "stats_hash_collisions")

  val Spans = Seq("rdf.derive", "rdf.parse", "cind.capture", "cind.support",
    "cind.lines", "cind.encode", "cind.discover", "cind.minimal", "harness.control")

  private val MS = CindEngine.DefaultMinSupport
  private val Mb = 1024.0 * 1024.0

  final case class Digest(cols: String, rows: Long, a: Long, b: Long) {
    override def toString = s"cols=$cols rows=$rows a=$a b=$b"
  }

  /** Order-independent digest: per row the md5 of its values (columns in
    * name order, rendered as strings, NULL as \N, joined by U+001F); the
    * digest is the row count plus the sums of the md5's first two 32-bit
    * words. oracle.py computes the same in DuckDB. */
  def digest(df: DataFrame): Digest = {
    val cols = df.columns.sorted
    val row = concat_ws("\u001f",
      cols.map(c => coalesce(col(c).cast("string"), lit("\\N"))).toIndexedSeq: _*)
    val r = df.select(md5(row.cast("binary")).as("h"))
      .select(conv(substring(col("h"), 1, 8), 16, 10).cast("long").as("a"),
        conv(substring(col("h"), 9, 8), 16, 10).cast("long").as("b"))
      .agg(count(lit(1)), coalesce(sum("a"), lit(0L)), coalesce(sum("b"), lit(0L)))
      .head()
    Digest(cols.mkString(","), r.getLong(0), r.getLong(1), r.getLong(2))
  }

  // ---------------------------------------------------------------- inputs

  /** A workload input: the triples and the discovery config for them. */
  sealed trait Input {
    def triples(spark: SparkSession): DataFrame
    def config: Main.Config
  }
  final case class Tpch(dir: String) extends Input {
    def triples(spark: SparkSession): DataFrame = TripleSource.derive(spark, dir)
    def config: Main.Config = Main.Config(cleanImplied = true)
  }
  final case class Hub(files: Vector[String]) extends Input {
    def triples(spark: SparkSession): DataFrame = TripleSource.readTriples(spark, files)
    def config: Main.Config =
      Main.Config(inputs = files, useBloom = true, cleanImplied = true)
  }

  def input(workload: String, dir: String): Input =
    if (workload == "hub-cind")
      Hub(new java.io.File(dir).listFiles().map(_.getPath)
        .filter(_.endsWith(".nt")).sorted.toVector)
    else Tpch(dir)

  // --------------------------------------------------------------- session

  def session(cores: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$localDir/warehouse")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The in-run control: a fixed CPU + shuffle job, independent of the
    * workload and its seed. Returns its wall time in seconds. */
  def control(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 1000000L, 1L, 8)
      .select((col("id") % 20011).as("k"), sha2(col("id").cast("string"), 256).as("h"))
      .groupBy("k").agg(max("h").as("m"))
      .agg(expr("bit_xor(xxhash64(m))")).head()
    (System.nanoTime() - t0) / 1e9
  }

  // ------------------------------------------------------------ operations

  /** Outcome of one timed operation: sub-operations attempted and failed. */
  final case class Outcome(attempted: Int, failed: Int)

  private def fail(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] FAILED $what: ${e.toString.take(400)}")

  private def mismatch(what: String, got: Any, want: Any): Unit =
    System.err.println(s"[perfbench] WRONG $what: got $got, want $want")

  /** The CIND operation: triples in, minimal CIND set out, digested. */
  def cindOp(spark: SparkSession, in: Input, want: Option[Digest]): Outcome =
    try {
      val got = digest(Main.discover(in.triples(spark), in.config).toDF())
      if (want.forall(_ == got)) Outcome(1, 0)
      else { mismatch("cind_minimal", got, want.get); Outcome(1, 1) }
    } catch { case NonFatal(e) => fail("cind_minimal", e); Outcome(1, 1) }

  /** One triple query, materialized through its digest: every row and
    * column is computed and checked in one execution. False if it failed
    * or its result differs from the oracle's. */
  def queryOp(spark: SparkSession, dir: String, q: String,
      want: Map[String, Digest]): Boolean =
    try {
      val got = digest(SparkEntry.queries(q)(spark, dir))
      val ok = want.get(q).forall(_ == got)
      if (!ok) mismatch(q, got, want(q))
      ok
    } catch { case NonFatal(e) => fail(q, e); false }

  /** The warm-up: one discovery on the tiny input; a traced tpch-cind run
    * also touches each triple query there, as its trace times them too. */
  def warmUp(spark: SparkSession, workload: String, tiny: String, traced: Boolean): Unit =
    try {
      val in = input(workload, tiny)
      cindOp(spark, in, None)
      if (traced && in.isInstanceOf[Tpch]) Queries.foreach(queryOp(spark, tiny, _, Map.empty))
      spark.catalog.clearCache()
    } catch { case NonFatal(e) => fail("warm-up", e) }

  // ---------------------------------------------------------------- traced

  /** Runs `body` as span `name`: its own job group, bus drained on both
    * sides so the recorder holds exactly the span's jobs. */
  final class Tracer(spark: SparkSession) {
    val recorder = new SpanRecorder
    spark.sparkContext.addSparkListener(recorder)
    val spans = mutable.LinkedHashMap[String, SpanStats]()

    def span[T](name: String)(body: => T): T = {
      val sc = spark.sparkContext
      BenchBus.drain(sc)
      sc.setJobGroup(name, name, interruptOnCancel = false)
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        sc.clearJobGroup()
        BenchBus.drain(sc)
        spans(name) = recorder.summary(name, t0, t1)
      }
    }

    /** Untimed helper work (ratios, widths, checks), kept out of spans. */
    def aux[T](body: => T): T = {
      spark.sparkContext.setJobGroup("harness.aux", "harness.aux", interruptOnCancel = false)
      try body finally spark.sparkContext.clearJobGroup()
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(recorder)
  }

  private def persisted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  /** One staged, traced pass. Each span's input is persisted and counted
    * by the span before it, so a span measures only its own layer.
    * Returns the layer counts, the traced wall time of the operation and
    * the content checks' outcome. */
  def tracedPass(spark: SparkSession, tr: Tracer, workload: String, dir: String,
      want: Map[String, Digest]): (Map[String, Double], Double, Outcome) = {
    val counts = mutable.LinkedHashMap[String, Double]()
    val held = mutable.ArrayBuffer[DataFrame]()
    def keep(p: (DataFrame, Long)): (DataFrame, Long) = { held += p._1; p }
    tr.span("harness.control")(control(spark))
    val in = input(workload, dir)
    val readSpan = in match { case _: Hub => "rdf.parse"; case _ => "rdf.derive" }
    val (triples, nTriples) = keep(tr.span(readSpan)(persisted(in.triples(spark))))
    counts("rdf.triples") = nTriples.toDouble
    val (inst, nInst) = keep(in match {
      case Hub(files) =>
        val est = tr.aux(TripleSource.estimateTripleCount(spark, files))
        tr.span("cind.capture")(persisted(CindEngine.bloomPrunedCaptureInstances(
          triples, MS, expectedConditions = math.max(1000L, est / MS))))
      case _ =>
        tr.span("cind.capture")(persisted(CindEngine.prunedCaptureInstances(triples, MS)))
    })
    counts("cind.capture.rows") = nInst.toDouble
    val allInst = tr.aux(CindEngine.captureInstances(triples).count())
    counts("cind.capture.kept_ratio") = nInst.toDouble / math.max(1L, allInst)
    val (caps, nCaps) = keep(tr.span("cind.support")(persisted(CindEngine.frequentCaptures(inst, MS))))
    counts("cind.support.captures") = nCaps.toDouble
    val distinctCaps = tr.aux(inst.select("code", "v1", "v2").distinct().count())
    counts("cind.support.kept_ratio") = nCaps.toDouble / math.max(1L, distinctCaps)
    val (lines, nLines) = keep(tr.span("cind.lines")(persisted(CindEngine.joinLines(inst, caps))))
    counts("cind.lines.count") = nLines.toDouble
    val w = tr.aux(lines.select(size(col("captures")).as("w"))
      .agg(coalesce(max("w"), lit(0)).cast("long"),
        coalesce(sum(when(col("w") > CindEngine.SplitThreshold, 1L).otherwise(0L)), lit(0L)))
      .head())
    counts("cind.lines.max_width") = w.getLong(0).toDouble
    counts("cind.lines.wide") = w.getLong(1).toDouble
    Seq(lines, caps, inst).foreach(_.unpersist())
    if (in.isInstanceOf[Tpch])
      tr.span("cind.encode")(CindEngine.joinLineHistogram(triples, MS).collect())
    val cinds = tr.span("cind.discover") {
      val c = Main.discover(triples, in.config.copy(cleanImplied = false)).toDF()
      counts("cind.cinds") = c.count().toDouble
      c
    }
    val (minimal, nMinimal) = keep(tr.span("cind.minimal")(persisted(CindEngine.minimalCinds(cinds))))
    counts("cind.minimal.cinds") = nMinimal.toDouble
    val got = tr.aux(digest(minimal))
    val ok = want.get("cind_minimal").forall(_ == got)
    if (!ok) mismatch("traced cind_minimal", got, want("cind_minimal"))
    val traced = Seq(readSpan, "cind.discover", "cind.minimal").map(tr.spans(_).wallS).sum
    held.foreach(_.unpersist())
    spark.catalog.clearCache()
    // the declared triple queries over the same tables: the shared entry's
    // (derive, Tables, CacheOps) cost per query
    val queriesFailed = in match {
      case Tpch(_) => Queries.count { q =>
        val r = tr.span(s"q.$q")(queryOp(spark, dir, q, want))
        spark.catalog.clearCache()
        !r
      }
      case _ => 0
    }
    val checked = Outcome(1 + (if (in.isInstanceOf[Tpch]) Queries.size else 0),
      (if (ok) 0 else 1) + queriesFailed)
    (counts.toMap, traced, checked)
  }

  /** Every per-layer metric, with its unit; layers the workload does not
    * run report 0. */
  def layerMetrics(tr: Tracer, counts: Map[String, Double], controlBefore: Double,
      controlAfter: Double, overhead: Double): Seq[(String, Double, String)] = {
    def s(name: String) = tr.spans.get(name)
    val perSpan = Spans.flatMap { sp =>
      val x = s(sp)
      Seq((s"${sp}_s", x.map(_.wallS), "s"), (s"$sp.cpu_s", x.map(_.cpuS), "s"),
        (s"$sp.gc_s", x.map(_.gcS), "s"), (s"$sp.tasks", x.map(_.tasks.toDouble), "count"),
        (s"$sp.max_task_share", x.map(_.maxTaskShare), "ratio"),
        (s"$sp.shuffle_write_mb", x.map(_.shuffleWriteMb), "MB"),
        (s"$sp.spill_mb", x.map(_.spillMb), "MB"),
        (s"$sp.driver_gap_s", x.map(_.driverGapS), "s"))
    }
    val perQuery = Queries.flatMap { q =>
      val x = s(s"q.$q")
      Seq((s"q.${q}_s", x.map(_.wallS), "s"),
        (s"q.$q.shuffle_write_mb", x.map(_.shuffleWriteMb), "MB"),
        (s"q.$q.max_task_share", x.map(_.maxTaskShare), "ratio"))
    }
    val evidence = for (d <- s("cind.discover"); e <- s("cind.encode")) yield d.wallS - e.wallS
    val countUnits = Seq("rdf.triples" -> "count", "cind.capture.rows" -> "count",
      "cind.capture.kept_ratio" -> "ratio", "cind.support.captures" -> "count",
      "cind.support.kept_ratio" -> "ratio", "cind.lines.count" -> "count",
      "cind.lines.max_width" -> "count", "cind.lines.wide" -> "count",
      "cind.cinds" -> "count", "cind.minimal.cinds" -> "count")
    (perSpan ++ perQuery :+ (("cind.evidence_s", evidence, "s")))
      .map { case (n, v, u) => (n, v.getOrElse(0.0), u) } ++
      countUnits.map { case (n, u) => (n, counts.getOrElse(n, 0.0), u) } ++
      Seq(("harness.control_before_s", controlBefore, "s"),
        ("harness.control_after_s", controlAfter, "s"),
        ("harness.trace_overhead_s", overhead, "s"))
  }

  // ------------------------------------------------------------------ main

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def readExpect(path: String): Map[String, Digest] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t")
      f(0) -> Digest(f(1), f(2).toLong, f(3).toLong, f(4).toLong)
    }.toMap

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val (dir, tiny) = (o("data"), o("tiny"))
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val want = readExpect(o("expect"))
    require(want.nonEmpty, s"no expected digests in ${o("expect")}")

    // set-up, --setups times: the first from JVM start, the rest each a
    // fresh SparkContext; every one ends with the warm-up on the tiny input
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(cores, o("local-dir"))
    warmUp(spark, workload, tiny, traced)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1000.0)
    for (_ <- 2 to o("setups").toInt) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, o("local-dir"))
      warmUp(spark, workload, tiny, traced)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext
    val tally = new StageTally
    sc.addSparkListener(tally)
    val heap = new HeapWatch

    val controlBefore = control(spark)
    val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    def sample(k: String, v: Double): Unit =
      samples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    var attempted = 0
    var failed = 0
    val in = input(workload, dir)
    val loopStart = System.nanoTime()
    // closed loop, one operation at a time; a traced run needs only one
    // untraced operation, as the reference for its staged pass
    while (attempted == 0 || (!traced && (System.nanoTime() - loopStart) / 1e9 < seconds)) {
      // every operation starts from a collected heap, so the previous one's
      // garbage neither slows it nor counts toward its heap peak
      System.gc()
      BenchBus.drain(sc)
      tally.reset(); heap.reset()
      val c0 = cpuNanos(); val t0 = System.nanoTime()
      val outcome = cindOp(spark, in, want.get("cind_minimal"))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNanos() - c0) / 1e9
      BenchBus.drain(sc)
      val shuffle = tally.shuffleBytes / Mb
      val maxStage = tally.maxStageBytes / Mb
      val peak = heap.peakBytes / Mb
      spark.catalog.clearCache()
      attempted += outcome.attempted
      failed += outcome.failed
      // a failed or wrong operation is counted, never timed
      if (outcome.failed == 0) {
        sample("wall_s", wall); sample("cpu_s", cpu)
        sample("shuffle_write_mb", shuffle); sample("max_stage_shuffle_mb", maxStage)
        if (peak > 0) sample("peak_heap_mb", peak)
      }
    }
    val controlAfter = control(spark)
    val untracedWall = median(samples.getOrElse("wall_s", Nil).toSeq)

    val sidecar = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores, "seconds" -> seconds,
      "setup_s" -> setups.toSeq, "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "control_before_s" -> controlBefore, "control_after_s" -> controlAfter)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        def m(k: String) = median(samples.getOrElse(k, Nil).toSeq)
        Seq(("setup_s", median(setups.toSeq), "s"), ("wall_s", m("wall_s"), "s"),
          ("cpu_s", m("cpu_s"), "s"), ("shuffle_write_mb", m("shuffle_write_mb"), "MB"),
          ("max_stage_shuffle_mb", m("max_stage_shuffle_mb"), "MB"),
          ("peak_heap_mb", m("peak_heap_mb"), "MB"),
          ("success_rate", (attempted - failed).toDouble / math.max(1, attempted), "ratio"))
      } else {
        val tr = new Tracer(spark)
        val (counts, tracedWall, checked) = tracedPass(spark, tr, workload, dir, want)
        tr.close()
        attempted += checked.attempted
        failed += checked.failed
        sidecar("spans") = tr.spans.map { case (k, v) =>
          k -> Map[String, Any]("wall_s" -> v.wallS, "cpu_s" -> v.cpuS, "gc_s" -> v.gcS,
            "tasks" -> v.tasks, "max_task_share" -> v.maxTaskShare,
            "shuffle_write_mb" -> v.shuffleWriteMb, "spill_mb" -> v.spillMb,
            "driver_gap_s" -> v.driverGapS, "jobs" -> v.jobs, "stages" -> v.stages)
        }.toMap
        sidecar("traced_wall_s") = tracedWall
        sidecar("untraced_wall_s") = untracedWall
        layerMetrics(tr, counts, controlBefore, controlAfter, tracedWall - untracedWall)
      }
    sidecar("metrics") = metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    val result = Map[String, Any]("attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)
    write(o("sidecar"), Json(sidecar.toMap))
    write(o("out"), Json(result))
    spark.stop()
  }

  def dump(path: String): Unit = {
    val names = Queries :+ "cind_minimal"
    write(path, Json(Map(
      "oracle" -> names.map(q => q -> SparkEntry.oracleSql(q)).toMap,
      "triples_cte" -> TripleSource.DUCKDB_CTE,
      "schemas" -> Tables.schemas,
      "queries" -> Queries)))
  }

  private def write(path: String, s: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, (s + "\n").getBytes(UTF_8))
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "dump" :: out :: Nil => dump(out)
    case "run" :: rest =>
      val o = rest.grouped(2).collect { case k :: v :: Nil if k.startsWith("--") =>
        k.drop(2) -> v }.toMap
      run(o)
    case _ =>
      System.err.println("usage: Harness dump <out.json> | Harness run --workload W ...")
      sys.exit(2)
  }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .sortBy(identity).mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
