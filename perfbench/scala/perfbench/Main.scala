package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, Pipelines, SparkEntry, Verify}
import graft.operators.{RelationalOps, SimilarityOps}
import graft.sources.{IngestOps, Tables}
import graft.streaming.StreamingOps

/** JVM side of the benchmark. Two modes:
  *
  *  - `prep <dataDir>`: generate the inputs (see [[Gen]]) and write the
  *    DuckDB oracle SQL of every checked query to `<dataDir>/oracle_sql.json`.
  *  - `run <workload> <seed> <seconds> <trace> <workDir> <out>`: read the
  *    inputs landed in `<workDir>/inputs`, set up, run the workload's
  *    timed loop, check outputs, and write raw measurements to `<out>` as
  *    JSON. With tracing on, the listeners are attached only around the
  *    traced steps (see [[Runner]]).
  *
  * Every file the run creates lives under `<workDir>` (warehouse,
  * `java.io.tmpdir`, streaming state and checkpoints), which the caller
  * deletes.
  */
object Main {
  private val json = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()

  def main(args: Array[String]): Unit = args.toList match {
    case "prep" :: data :: Nil => prep(data)
    case "run" :: w :: seed :: secs :: trace :: work :: out :: Nil =>
      val wl = Workloads.all.getOrElse(w, sys.error(s"unknown workload $w"))
      val r = new Runner(wl, seed.toLong, secs.toDouble, trace == "1", work)
      Files.writeString(Paths.get(out), json.writeValueAsString(r.run()))
    case _ =>
      System.err.println("usage: perfbench.Main prep <dataDir> | run <workload> <seed> " +
        "<seconds> <trace 0|1> <workDir> <out.json>")
      sys.exit(2)
  }

  def session(warehouse: String): SparkSession = {
    val s = GraftSession.builder("perfbench")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def prep(data: String): Unit = {
    val spark = session(s"$data/warehouse")
    try {
      Gen.generate(spark, data)
      val names = Workloads.all.values.flatMap(_.oracleQueries).toSeq.sorted
      Files.writeString(Paths.get(s"$data/oracle_sql.json"),
        json.writeValueAsString(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    } finally spark.stop()
  }
}

/** One timed operation of a workload, recorded under the span `span` (the
  * layer entry point it calls). `timed` does the work a user waits for;
  * `result` (untimed) turns its handle into the output frame that is
  * fingerprinted and, once per run, dumped for the DuckDB oracle.
  */
final case class Step(name: String, kind: String, span: String, oracle: Option[String],
                      timed: (SparkSession, String, String) => Any,
                      result: (SparkSession, String, Any) => DataFrame)

object Step {
  /** A report: the rows are pulled to the client inside the timed region. */
  def read(name: String, span: String, oracle: String,
           call: (SparkSession, String, String) => DataFrame): Step =
    Step(name, "read", span, Some(oracle),
      (s, dir, work) => { val df = call(s, dir, work); (df.collect(), df.schema) },
      (s, _, h) => {
        val (rows, schema) = h.asInstanceOf[(Array[Row], org.apache.spark.sql.types.StructType)]
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      })

  /** A registered query whose call builds stored state (a mart table) and
    * returns a frame over it.
    */
  def build(name: String): Step =
    Step(name, "write", s"SparkEntry.queries:$name", Some(name),
      (s, dir, _) => SparkEntry.queries(name)(s, dir), (_, _, h) => h.asInstanceOf[DataFrame])
}

abstract class Workload(val name: String) {
  def steps: Seq[Step]
  def oracleQueries: Seq[String] = steps.flatMap(_.oracle).distinct
  /** One untimed round between set-up and the timed loop, so the timed
    * samples are not dominated by first-plan JIT and codegen.
    */
  def warmUpRound: Boolean = true
}

object Workloads {
  private def q(name: String) =
    Step.read(name, s"SparkEntry.queries:$name", name, (s, dir, _) => SparkEntry.queries(name)(s, dir))

  /** The reference's daily cycle: the nightly rebuild of marts and
    * reports (closed loop), then the daily appends (open loop, see
    * [[Runner.daily]]). A slice holds `1 + nextInt(maxDays)` whole order
    * dates. One slice is due every `periodS`, about twice a warm slice's
    * service time, so the loop runs below saturation.
    */
  object Finance extends Workload("finance") {
    val periodS = 1.5
    val maxDays = 3
    val steps: Seq[Step] = Seq(Step.build("fred_pipeline"), Step.build("fundamentals_kpis")) ++
      Seq("mart_yearly_avg", "q1_pricing_summary", "q3_revenue_topn", "q10_returned",
        "pivot_status", "rolling_avg", "window_lag_yoy", "kpi_ratios", "rollup_region").map(q)
  }

  /** Clean the corpus, rebuild the vector index, then serve reads from the
    * stored index. An index is read more often than it is rebuilt: three
    * clients' reads per rebuild. No warm-up round in the tracing-off run:
    * it would cost a whole cold iteration per run, so the timed iteration
    * is the first one.
    */
  object CorpusAnn extends Workload("corpus_ann") {
    override val warmUpRound = false
    val steps: Seq[Step] = Seq(
      Step("corpus_pipeline", "write", "Pipelines.runCorpusPipeline", Some("corpus_pipeline"),
        (s, dir, work) => Pipelines.runCorpusPipeline(Tables.load(s, dir, "documents"))
          .write.mode("overwrite").parquet(s"$work/corpus_clean"),
        (s, work, _) => s.read.parquet(s"$work/corpus_clean")),
      Step("graph_index", "write", "SimilarityOps.writeGraphIndexScaled", None,
        (s, dir, work) => SimilarityOps.writeGraphIndexScaled(
          Tables.load(s, dir, "embeddings"), s"$work/graph_index"),
        (s, work, _) => s.read.parquet(s"$work/graph_index/edges"))) ++
      (1 to 3).map(i => Step.read(s"graph_topk_rescored_$i",
        "SimilarityOps.graphTopKRescoredFromIndex", "graph_topk_rescored",
        (s, _, work) => SimilarityOps.graphTopKRescoredFromIndex(s, s"$work/graph_index", 10, 5)))
  }

  val all: Map[String, Workload] = Seq(Finance, CorpusAnn).map(w => w.name -> w).toMap
}

/** Runs one workload. The tracing-off run times a closed loop for
  * `seconds` (and, for `finance`, the open loop after it). The traced run
  * instead times exactly two closed-loop iterations after a warm-up round,
  * then the open loop with every slice traced. In the two iterations the
  * steps alternate between tracing on and off, the other way round in the
  * second, so each step is traced exactly once. The per-layer totals
  * therefore cover the same work however fast the program is, and the
  * tracing overhead is the traced minus the untraced steps' time, both
  * drawn equally from the two iterations.
  */
final class Runner(w: Workload, seed: Long, seconds: Double, traced: Boolean, work: String) {
  private val tracer = if (traced) Some(new Trace) else None
  /** The tracer while a traced step runs, else None. */
  private var trace: Option[Trace] = None
  private val inputs = s"$work/inputs"
  private var spark: SparkSession = _
  private val iterations = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private val warmUp = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private val checks = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private val fingerprints = scala.collection.mutable.Map.empty[String, String]

  private var firstStepMs = 0L

  private def now(): Double = System.nanoTime() / 1e9

  /** Runs `body` with the listeners attached and spans recorded (traced
    * run only); waits for the listener bus to drain before detaching.
    */
  private def underTrace[A](body: => A): A = tracer match {
    case Some(t) =>
      t.attach(spark)
      trace = tracer
      try body finally { trace = None; t.detach(spark) }
    case None => body
  }

  def run(): Map[String, Any] = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val c0 = now()
    spark = Main.session(s"$work/warehouse")
    val createS = now() - c0
    warmUpQuery(inputs)
    val loopStart = now()
    nightly(inputs, seconds)
    if (w eq Workloads.Finance) daily(inputs, seconds * 3 / 4)
    val loopS = now() - loopStart
    val result = Map("workload" -> w.name, "seed" -> seed,
      "setup_s" -> (firstStepMs - jvmStartMs) / 1e3, "create_s" -> createS, "loop_s" -> loopS,
      "warm_up" -> warmUp.toSeq, "iterations" -> iterations.toSeq, "checks" -> checks.toSeq,
      "peak_rss_mb" -> peakRssMb(), "heap_retained_mb" -> retainedHeapMb(),
      "trace" -> tracer.map(_.records))
    spark.stop()
    result
  }

  /** Closed loop, one client: the next iteration starts when the previous
    * one ends, while less than `secs` has passed (at least one runs). The
    * traced run times exactly two iterations instead, see [[Runner]].
    */
  private def nightly(dir: String, secs: Double): Unit = {
    if (w.warmUpRound || traced) warmUp ++= w.steps.map(step => runStep(step, dir, -1))
    firstStepMs = System.currentTimeMillis()
    val loopStart = now()
    var i = 0
    def more = if (traced) i < 2 else i == 0 || now() - loopStart < secs
    while (more) {
      val startMs = System.currentTimeMillis()
      val results = w.steps.zipWithIndex.map { case (step, k) =>
        if (traced && (k + i) % 2 == 1) underTrace(runStep(step, dir, i)) else runStep(step, dir, i)
      }
      iterations += Map("loop" -> "nightly", "index" -> i, "start_ms" -> startMs,
        "end_ms" -> System.currentTimeMillis(), "lag_s" -> 0.0,
        "latency_s" -> results.map(_("seconds").asInstanceOf[Double]).sum, "steps" -> results)
      i += 1
    }
  }

  /** Runs one step; `i` is its iteration, -1 for the warm-up round (which
    * is not checked).
    */
  private def runStep(step: Step, dir: String, i: Int): Map[String, Any] = {
    val startMs = System.currentTimeMillis()
    val t0 = now()
    val out = try {
      val h = Trace.span(trace, step.span) { step.timed(spark, dir, work) }
      Right((now() - t0, h))
    } catch { case NonFatal(e) => Left((now() - t0, e)) }
    val endMs = System.currentTimeMillis()
    val (s, ok, detail) = out match {
      case Left((s, e)) => (s, false, e.toString.take(300))
      case Right((s, _)) if i < 0 => (s, true, "")
      case Right((s, h)) => val (ok, d) = check(step, h, i); (s, ok, d)
    }
    spark.catalog.clearCache()
    Map("name" -> step.name, "kind" -> step.kind, "seconds" -> s, "ok" -> ok,
      "error" -> detail, "start_ms" -> startMs, "end_ms" -> endMs, "traced" -> trace.isDefined)
  }

  /** Fingerprints the step's output; the first iteration's output is
    * dumped for the DuckDB oracle and later iterations must match it.
    */
  private def check(step: Step, h: Any, i: Int): (Boolean, String) =
    try {
      val df = step.result(spark, work, h)
      val fp = fingerprint(df)
      if (i == 0) {
        fingerprints(step.name) = fp
        step.oracle.foreach { o =>
          val path = s"$work/dump/$o"
          Verify.decimalsAsDouble(df).coalesce(1).write.mode("overwrite").parquet(path)
          checks += Map("step" -> step.name, "oracle" -> o, "dump" -> path)
        }
        (true, "")
      } else if (fingerprints.get(step.name).contains(fp)) (true, "")
      else (false, s"output differs from iteration 0 ($fp vs ${fingerprints.get(step.name)})")
    } catch { case NonFatal(e) => (false, s"check failed: ${e.toString.take(300)}") }

  private def fingerprint(df: DataFrame): String = {
    val rows = df.collect().map(_.toString).sorted
    s"${rows.length}:${scala.util.hashing.MurmurHash3.orderedHash(rows.toSeq)}"
  }

  /** Open loop: day-slices of `orders`, in date order, are due on a fixed
    * schedule (period plus seeded jitter). Each slice holds a seeded number
    * of whole order dates. It is landed as a run-date partition and merged
    * into the MV by the streaming writer; latency runs from the slice's due
    * time until its MV version is readable, so a stall delays every later
    * slice. The first slice is the untimed warm-up round; slices fall due
    * for `secs`. In the traced run every timed slice is traced.
    */
  private def daily(dir: String, secs: Double): Unit = {
    val session = spark
    import session.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = session.sqlContext
    val rnd = new scala.util.Random(seed)
    val dates = Tables.ordersDs(spark, dir).collect().toSeq
      .groupBy(_.o_orderdate.getTime).toSeq.sortBy(_._1)
      .map { case (_, os) => os.sortBy(_.o_orderkey) }
    var nextDate = 0
    val mem = MemoryStream[graft.model.Order]
    val state = s"$work/mv_state"
    val query = Trace.span(trace, "StreamingOps.mvStreamWriter") {
      StreamingOps.mvStreamWriter(mem.toDF(), state, s"$work/mv_checkpoint").start()
    }
    val appended = scala.collection.mutable.ArrayBuffer.empty[graft.model.Order]
    /** Lands and merges day `i`; returns its steps and when its MV version
      * became readable.
      */
    def day(i: Int): (Seq[Map[String, Any]], Double) = {
      val n = 1 + rnd.nextInt(Workloads.Finance.maxDays)
      val slice = dates.slice(nextDate, nextDate + n).flatten
      nextDate += n
      val steps = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      def timed(name: String, kind: String)(body: => Unit): Unit = {
        val startMs = System.currentTimeMillis()
        val s0 = now()
        val err = try { Trace.span(trace, name)(body); "" }
                  catch { case NonFatal(e) => e.toString.take(300) }
        steps += Map("name" -> name, "kind" -> kind, "seconds" -> (now() - s0),
          "ok" -> err.isEmpty, "error" -> err, "start_ms" -> startMs,
          "end_ms" -> System.currentTimeMillis(), "traced" -> trace.isDefined)
      }
      timed("IngestOps.appendRunPartition", "write") {
        IngestOps.appendRunPartition(slice.toDS().toDF(), "orders_landed", f"day-$i%04d")
      }
      timed("StreamingOps.mvStreamWriter", "write") {
        mem.addData(slice: _*)
        query.processAllAvailable()
      }
      appended ++= slice
      val ready = now()
      timed("RelationalOps.mvRead", "read") {
        RelationalOps.mvRead(StreamingOps.mvStateLatest(spark, state)).collect()
      }
      (steps.toSeq, ready)
    }
    val period = Workloads.Finance.periodS
    try {
      warmUp ++= day(0)._1
      underTrace {
        val loopStart = now()
        var i = 1
        var due = loopStart + period * rnd.nextDouble() / 2
        while ((i == 1 || due < loopStart + secs) && nextDate < dates.length) {
          while (now() < due) Thread.sleep(math.max(1L, ((due - now()) * 1000).toLong))
          val startMs = System.currentTimeMillis()
          val lag = now() - due
          val (steps, ready) = day(i)
          iterations += Map("loop" -> "daily", "index" -> i, "start_ms" -> startMs, "end_ms" -> System.currentTimeMillis(), "lag_s" -> lag,
            "latency_s" -> (ready - due), "steps" -> steps)
          due = loopStart + period * (i + rnd.nextDouble() / 2)
          i += 1
        }
      }
    } finally query.stop()
    // final state must equal the batch recompute over every appended row,
    // and the landed partitions must hold exactly those rows
    val expected = RelationalOps.mvRead(RelationalOps.mvState(appended.toSeq.toDS().toDF()))
    val actual = RelationalOps.mvRead(StreamingOps.mvStateLatest(spark, state))
    val landed = spark.table("orders_landed").count()
    val same = fingerprint(expected) == fingerprint(actual) && landed == appended.size
    checks += Map("step" -> "mv_final_state", "ok" -> same,
      "detail" -> s"landed=$landed appended=${appended.size}",
      "state_versions" -> StreamingOps.mvVersions(state).size,
      "state_bytes" -> org.apache.commons.io.FileUtils.sizeOfDirectory(new File(state)))
  }

  /** The engine's first-plan JIT/codegen warm-up: window, broadcast join,
    * higher-order function, hash aggregate and sort on a tiny table.
    */
  private def warmUpQuery(dir: String): Unit = Trace.span(trace, "warm_up") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val r = Tables.load(spark, dir, "region")
    r.crossJoin(broadcast(r.select(col("r_regionkey").as("k"))))
      .withColumn("rn", row_number().over(Window.partitionBy(col("r_regionkey")).orderBy(col("r_name"))))
      .withColumn("h", expr("aggregate(transform(sequence(1, 64), x -> x * 1.0d), 0d, (a, x) -> a + x)"))
      .groupBy(col("r_name")).agg(sum(col("rn")).as("s"), max(col("h")).as("m"))
      .orderBy(col("s"))
      .write.format("noop").mode("overwrite").save()
  }

  /** Heap still in use after a full collection: what the run holds once
    * its work is done (session and catalog state, the program's per-JVM
    * caches). Unlike the resident set, the fixed heap size does not cap it.
    * Spark's context cleaner drops the blocks of collected RDDs, broadcasts
    * and shuffles only after a collection, on its own thread, so collect
    * again until the figure stops falling by more than 1%.
    */
  private def retainedHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    var (prev, cur, rounds) = (Double.MaxValue, collect(), 1)
    while (rounds < 8 && cur < prev * 0.99) {
      Thread.sleep(500)
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }
}
