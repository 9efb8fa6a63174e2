package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run inside one JVM: build the session (several times,
  * for a median set-up time), run the workload's unit of work until
  * the time budget is spent, check the outputs, and write every raw
  * sample and check verdict to a JSON file for `run.py`.
  *
  * All timing is taken here, around calls into graft's public entry
  * points; nothing under the graft sources is changed or instrumented.
  *
  * Arguments (all `--key value`): workload, inputs (generated input
  * directory), work (working directory), seconds, trace (0|1), seed,
  * setups, out (result file), expected (recorded query hashes,
  * query_mix only), record (write observed query hashes there instead
  * of checking them).
  */
object Harness {
  private val mapper = new ObjectMapper()

  final case class Conf(workload: String, inputs: String, work: String, seconds: Double,
      trace: Boolean, seed: Long, setups: Int, out: String, expected: Option[String],
      record: Option[String])

  /** Everything a run reports. `run.py` derives the contract metrics. */
  final class Record {
    val setupS = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[(String, String, Double, Boolean)] // kind, name, s, ok
    val units = mutable.ArrayBuffer.empty[Double]
    val coldUnits = mutable.ArrayBuffer.empty[Double]
    /** While set, calls and counters go under a `cold.` prefix, apart
      * from the measured samples.
      */
    var cold = false
    private def tag(k: String) = if (cold) s"cold.$k" else k
    val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]

    def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))

    /** Accumulate a numeric `info` entry. */
    def add(key: String, v: Double): Unit =
      info(tag(key)) = info.get(tag(key)).map(_.toString.toDouble).getOrElse(0.0) + v

    def timed[T](kind: String, name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      ops += ((tag(kind), name, (System.nanoTime() - t0) / 1e9, true))
      r
    }

    def failOp(kind: String, name: String, e: Throwable): Unit = {
      ops += ((tag(kind), name, 0.0, false))
      check(s"$name.runs", ok = false, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
  }

  trait Workload {
    def configure(b: SparkSession.Builder): SparkSession.Builder = graft.util.configureLocalHarness(b)
    def warmUpInput(c: Conf): String
    /** Workload-specific set-up after the session and warm-up. */
    def prepare(s: SparkSession, c: Conf, r: Record, tr: Option[Trace]): Unit = ()
    /** One unit of work; returns its wall time in seconds. */
    def unit(s: SparkSession, c: Conf, r: Record, tr: Option[Trace], n: Int): Double
    /** Units every untraced run measures, whatever `--seconds` says;
      * more run while the measured time is below `--seconds`, unless the
      * unit may not repeat (query_mix: each query runs once). A traced
      * run measures one unit.
      */
    def minUnits: Int = 1
    /** Units run before the measured ones, on the same inputs: the first
      * calls in a JVM pay code generation and JIT compilation, which
      * move from run to run by more than the benchmark's bounds. Their
      * outputs are checked like any other unit's; their times are
      * reported apart (`cold_units`), not in the metrics.
      */
    def coldUnits: Int = 0
    def repeatable: Boolean = true
    def checkOutputs(s: SparkSession, c: Conf, r: Record, units: Int): Unit
    def summarize(r: Record): Unit
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val c = Conf(a("workload"), a("inputs"), a("work"), a("seconds").toDouble, a("trace") == "1",
      a("seed").toLong, a.getOrElse("setups", "3").toInt, a("out"), a.get("expected"), a.get("record"))
    val w: Workload = c.workload match {
      case "etl_closure" | "etl_closure_mixed" => EtlClosure
      case "query_mix" => QueryMix
      case "corpus_prep" => CorpusPrep
      case other => sys.error(s"unknown workload '$other'")
    }
    val r = new Record
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var trace: Option[Trace] = None
    var codegen0 = (0L, 0L)
    for (i <- 1 to c.setups) {
      if (spark != null) {
        graft.StoredArtifacts.clear(spark)
        spark.stop()
      }
      val t0 = System.nanoTime()
      val last = i == c.setups
      codegen0 = codegenCounters()
      spark = w.configure(SparkSession.builder().master("local[4]")
        .appName(s"perfbench-${c.workload}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.local.dir", s"${c.work}/spark-local"))
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      trace = if (c.trace && last) Some(new Trace(spark)) else None
      def body(): Unit = {
        warmUp(spark, w.warmUpInput(c))
        w.prepare(spark, c, r, trace)
      }
      trace match {
        case Some(tr) => tr.span("setup")(body())
        case None => body()
      }
      // the first set-up counts from process start: JVM start and
      // class loading are part of what a user waits for
      r.setupS += (if (i == 1) (System.currentTimeMillis() - jvmStart) / 1e3
        else (System.nanoTime() - t0) / 1e9)
    }
    var n = 0
    r.cold = true
    while (n < w.coldUnits) {
      if (n > 0) graft.StoredArtifacts.clear(spark)
      // untraced inside: the layers cover the set-up and the measured unit
      r.coldUnits += (trace match {
        case Some(tr) => tr.span("cold")(w.unit(spark, c, r, None, n))
        case None => w.unit(spark, c, r, None, n)
      })
      n += 1
    }
    r.cold = false
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    val measureStart = System.currentTimeMillis()
    do {
      if (n > 0) graft.StoredArtifacts.clear(spark)
      val wall = trace match {
        case Some(tr) => tr.span("unit")(w.unit(spark, c, r, trace, n))
        case None => w.unit(spark, c, r, None, n)
      }
      r.units += wall
      n += 1
    } while (!c.trace && (r.units.size < w.minUnits || w.repeatable && System.nanoTime() < deadline))
    val measureEnd = System.currentTimeMillis()
    r.info("units") = r.units.size
    r.info("cold_units") = r.coldUnits.size
    r.info("measure_s") = (measureEnd - measureStart) / 1e3
    r.metrics("heap_retained_mb") = retainedHeapMb(spark)
    val codegen1 = codegenCounters()
    w.checkOutputs(spark, c, r, n)
    w.summarize(r)
    trace.foreach { tr =>
      tr.drain()
      Layers.fill(tr, r, codegen0, codegen1)
    }
    trace.foreach(tr => Files.writeString(Paths.get(s"${c.work}/spans.json"), Layers.spansJson(tr)))
    Files.writeString(Paths.get(c.out), json(r))
    graft.StoredArtifacts.clear(spark)
    spark.stop()
  }

  /** Untimed-by-the-unit warm-up: a parquet scan, a shuffle aggregate and
    * a broadcast join through the noop sink, so JVM, codegen and shuffle
    * machinery start before the first timed call. No workload call runs.
    */
  def warmUp(s: SparkSession, path: String): Unit = {
    val df = s.read.parquet(path)
    val g = df.groupBy((col(df.columns.head) % 7).as("k")).count()
    g.join(broadcast(g.select(col("k"), col("count").as("c2"))), "k")
      .write.format("noop").mode("overwrite").save()
  }

  /** (compiles, compile nanoseconds) so far in this JVM. */
  def codegenCounters(): (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Heap in use after full GCs, once the listener bus has drained and
    * Spark's ContextCleaner has released what the first GC made
    * unreachable: collect until two readings agree within 1 MB.
    */
  def retainedHeapMb(s: SparkSession): Double = {
    org.apache.spark.perfbench.Bus.drain(s.sparkContext)
    def used(): Double = {
      System.gc()
      Thread.sleep(250)
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = used()
    var tries = 0
    while (math.abs(cur - prev) > 1.0 && tries < 8) { prev = cur; cur = used(); tries += 1 }
    cur
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (pos - lo) * (s(hi) - s(lo))
    }
  }

  /** Order-independent fingerprint of a result: its row count and the
    * sum of per-row xxhash64 values. Floating columns are hashed as
    * FLOAT, so last-bit differences from summation order do not count
    * as a different answer; the recorded values are the same width.
    */
  def fingerprintCols(df: DataFrame): (DataFrame, Seq[Column]) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def narrow(t: DataType): DataType = t match {
      case DoubleType => FloatType
      case ArrayType(e, n) => ArrayType(narrow(e), n)
      case MapType(k, v, n) => MapType(narrow(k), narrow(v), n)
      case StructType(fs) => StructType(fs.map(f => f.copy(dataType = narrow(f.dataType))))
      case o => o
    }
    def hashable(c: Column, t: DataType): Column = narrow(t) match {
      case m: MapType => to_json(c.cast(m))
      case n if n != t => c.cast(n)
      case _ => c
    }
    val cols = renamed.schema.fields.toSeq.map(f => hashable(col(f.name), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    (renamed, Seq(count(lit(1)).as("n"), sum(h.cast(DecimalType(20, 0))).as("h")))
  }

  /** Materialize `df` through the noop sink, observing its fingerprint
    * in the same execution.
    */
  def runObserved(df: DataFrame, name: String): (Long, String) = {
    val (renamed, aggs) = fingerprintCols(df)
    val obs = Observation(name)
    renamed.observe(obs, aggs.head, aggs.tail: _*).write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long], String.valueOf(m("h")))
  }

  /** Fingerprint of a stored result (an extra job; never timed). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val (renamed, aggs) = fingerprintCols(df)
    val row = renamed.agg(aggs.head, aggs.tail: _*).head()
    (row.getLong(0), String.valueOf(row.get(1)))
  }

  def readJson(path: String): JsonNode = mapper.readTree(new File(path))

  def jsonString(s: String): String = mapper.writeValueAsString(s)

  def parseJson(s: String): JsonNode = mapper.readTree(s)

  /** path -> (bytes, mtime) of every file under `dir`. */
  def listing(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
      finally st.close()
    }
  }

  def copyInto(src: String, dir: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    val p = Paths.get(src)
    Files.copy(p, Paths.get(dir).resolve(p.getFileName), StandardCopyOption.REPLACE_EXISTING)
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
      finally st.close()
    }
  }

  def json(r: Record): String = {
    def enc(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case f: Float => enc(f.toDouble)
      case i: Int => i.toString
      case l: Long => l.toString
      case b: Boolean => b.toString
      case s: String => jsonString(s)
      case m: collection.Map[_, _] =>
        m.map { case (k, x) => s"${enc(k.toString)}:${enc(x)}" }.mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
      case o => enc(o.toString)
    }
    enc(mutable.LinkedHashMap[String, Any](
      "setup_s" -> r.setupS, "units" -> r.units, "cold_units" -> r.coldUnits,
      "ops" -> r.ops.map { case (k, n, s, ok) => Map("kind" -> k, "name" -> n, "s" -> s, "ok" -> ok) },
      "checks" -> r.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "metrics" -> r.metrics, "layers" -> r.layers, "info" -> r.info))
  }
}
