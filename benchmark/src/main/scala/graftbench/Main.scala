package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.TimestampType

/** Runs one workload against the public graft API and writes every raw
  * measurement to a JSON file; `run.py` turns that file into metrics.
  *
  * Protocol: one untimed pass that leaves each checked step's output for
  * the oracle, untimed warming passes for the workload's `warmS`, then
  * timed passes until `--seconds` have elapsed. Each pass runs the
  * workload's steps in order, each after the previous one completes (one
  * closed-loop client), in a directory no earlier pass has used, so
  * stores, indexes, checkpoints and graft's dataset-keyed scratch state
  * all start empty. With `--trace 1` the
  * timed passes also record spans and per-job task counters.
  *
  * Usage: Main --workload W --seconds S --trace 0|1 --data DIR --work DIR
  *             --out FILE --cpus N
  *
  * Every step is one operation; a stream's operations are its
  * micro-batches, each timed from its file landing to its commit.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val Workload(steps, warmS) = Workloads(opt("workload"))
    val seconds = opt("seconds").toDouble
    val data = new File(opt("data")).getCanonicalPath
    val work = new File(opt("work")).getCanonicalPath
    val cpus = opt("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val checkDir = s"$work/check"
      val check = pass(spark, data, s"$work/pass-check", steps, Some(checkDir), None)
      val warm = mutable.ArrayBuffer.empty[Map[String, Any]]
      val w0 = System.nanoTime()
      while ((System.nanoTime() - w0) / 1e9 < warmS)
        warm += pass(spark, data, s"$work/pass-warm${warm.size}", steps, None, None)
      val setupS = (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

      val tracer = if (opt("trace") == "1") Some(new Tracer(spark)) else None
      val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
      val t0 = System.nanoTime()
      // a traced run makes two passes at least, to check that every step's
      // job, stage and task counts repeat
      while (passes.size < tracer.fold(1)(_ => 2) || (System.nanoTime() - t0) / 1e9 < seconds)
        passes += pass(spark, data, s"$work/pass-${passes.size}", steps, None, tracer)

      val record = Map(
        "workload" -> opt("workload"),
        "oracles" -> steps.collect { case q: Query => q.oracle }.flatten
          .map(o => o -> graft.SparkEntry.oracleSql(o)).toMap,
        "setup_s" -> setupS,
        "check" -> check("steps"),
        "warm" -> warm.flatMap(_("steps").asInstanceOf[Seq[Any]]),
        "passes" -> passes.toList,
        "calib_st_ms" -> calibrate(),
        "trace" -> tracer.map(_.record))
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValue(new File(opt("out")), record)
    } finally spark.stop()
  }

  /** One pass of `steps` in `root`. Graft receives the input through a
    * link at `root/in`, so every dataset-keyed scratch path is new. */
  private def pass(spark: SparkSession, data: String, root: String,
                   steps: Seq[Step], checkDir: Option[String],
                   tracer: Option[Tracer]): Map[String, Any] = {
    val in = Paths.get(root, "in")
    Files.createDirectories(in.getParent)
    Files.createSymbolicLink(in, Paths.get(data))
    val c = new Ctx(spark, in.toString, root, checkDir, new CpuMeter)
    System.gc()
    val run = open(tracer, "run", -1)
    val startMs = Clock.nowMs
    val results = steps.map(s => runStep(s, c, data, tracer, run))
    val cpuS = c.cpu.seconds
    val endMs = Clock.nowMs
    tracer.foreach(_.close(run))
    val stores = if (tracer.isDefined) storeSizes(root) else Map.empty
    System.gc()
    val liveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    delete(new File(root))
    new File(System.getProperty("java.io.tmpdir")).listFiles()
      .filter(_.getName.startsWith("graft_")).foreach(delete)
    Map("start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> (endMs - startMs) / 1000,
      "cpu_s" -> cpuS, "heap_live_mb" -> liveMb, "stores" -> stores,
      "steps" -> results)
  }

  private def runStep(s: Step, c: Ctx, data: String, tracer: Option[Tracer],
                      parent: Int): Map[String, Any] = {
    val span = open(tracer, s"step:${s.name}", parent)
    tracer.foreach(_.tag(span))
    def timed[T](name: String)(body: => T): (T, Double) = {
      val id = open(tracer, name, span)
      val t = Clock.nowMs
      val out = body
      tracer.foreach(_.close(id))
      (out, Clock.nowMs - t)
    }
    val base = Map("name" -> s.name, "module" -> s.module)
    val t0 = Clock.nowMs
    val res: Map[String, Any] =
      try s match {
        case q: Query =>
          val (df, callMs) = timed("call")(q.call(c))
          val (_, execMs) = timed("materialize")(materialize(df, c, q.name))
          Map("ok" -> true, "call_ms" -> callMs, "exec_ms" -> execMs,
            "ops_ms" -> List(callMs + execMs))
        case st: Stream => stream(st, c, data, tracer, span)
      } catch {
        case e: Throwable =>
          System.err.println(s"[graftbench] ${s.name} failed: $e")
          Map("ok" -> false, "error" -> e.toString, "call_ms" -> 0.0,
            "exec_ms" -> 0.0, "ops_ms" -> Nil)
      }
    tracer.foreach(_.close(span))
    base ++ res ++ Map("oracle" -> (s match {
      case q: Query => q.oracle
      case _ => None
    }), "wall_ms" -> (Clock.nowMs - t0))
  }

  /** Computes every row and column of `df`: to Spark's `noop` sink when
    * timed, to parquet for the oracle on the checking pass. */
  private def materialize(df: DataFrame, c: Ctx, name: String): Unit =
    c.checkDir match {
      case Some(dir) => df.write.mode("overwrite").parquet(s"$dir/$name")
      case None => df.write.format("noop").mode("overwrite").save()
    }

  /** Feeds `st` the generated files one at a time; each lands (an atomic
    * rename into the watched directory) only after the previous
    * micro-batch has committed. */
  private def stream(st: Stream, c: Ctx, data: String, tracer: Option[Tracer],
                     parent: Int): Map[String, Any] = {
    val files = new File(s"$data/stream/${st.source}").listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).toSeq
    val landing = Paths.get(c.root, "land", st.name)
    Files.createDirectories(landing)
    val schema = c.spark.read.parquet(files.head.getPath).schema
    // the generated files hold timezone-free timestamps; graft's stream
    // operators take event time as TIMESTAMP (graft.Tables.events casts too)
    val input = c.spark.readStream.schema(schema).parquet(landing.toString)
      .withColumn("ts", col("ts").cast(TimestampType))
    val t0 = Clock.nowMs
    val query = st.start(c, input, s"${c.root}/ckpt/${st.name}")
    val callMs = Clock.nowMs - t0
    val ops = mutable.ArrayBuffer.empty[Double]
    try files.zipWithIndex.foreach { case (f, i) =>
      val tmp = landing.resolve(s".${f.getName}.tmp")
      Files.copy(f.toPath, tmp)
      val span = open(tracer, s"batch:$i", parent)
      val t = Clock.nowMs
      Files.move(tmp, landing.resolve(f.getName), StandardCopyOption.ATOMIC_MOVE)
      // processAllAvailable can return on a trigger that listed the
      // directory just before the file landed; wait for the batch itself.
      while ({ query.processAllAvailable(); dataBatches(query) < i + 1 }) ()
      ops += Clock.nowMs - t
      tracer.foreach(_.close(span))
    } finally {
      c.cpu.sample()
      query.stop()
    }
    val progress = query.recentProgress.filter(_.numInputRows > 0).map { p =>
      Map("batch" -> p.batchId, "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum)
    }.toList
    val mismatch = if (c.checking) st.check(c) else 0L
    if (mismatch != 0)
      throw new IllegalStateException(
        s"${st.name}: $mismatch rows differ from the batch counterpart")
    Map("ok" -> true, "call_ms" -> callMs, "exec_ms" -> ops.sum,
      "ops_ms" -> ops.toList, "progress" -> progress)
  }

  private def open(tracer: Option[Tracer], name: String, parent: Int): Int =
    tracer.map(_.open(name, parent)).getOrElse(-1)

  private def dataBatches(q: org.apache.spark.sql.streaming.StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  /** Bytes, files and committed versions under the pass's stores: the
    * VersionedStore roots the benchmark gives graft and graft's own
    * scratch stores. */
  private def storeSizes(root: String): Map[String, Any] = {
    val dirs = new File(root, "stores") +:
      new File(System.getProperty("java.io.tmpdir")).listFiles()
        .filter(_.getName.startsWith("graft_")).toSeq
    val files = dirs.flatMap(walk).filterNot(_.getName.endsWith(".crc"))
    Map("bytes" -> files.map(_.length).sum, "files" -> files.size,
      "versions" -> files.count(_.getName.matches("manifest-v[0-9]+\\.txt")))
  }

  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    else if (f.isFile) Seq(f) else Nil

  private def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** graft.Bench's machine stamp: milliseconds for 3e8 xorshift64 steps
    * on one thread, measured after a shorter warming run. */
  private def calibrate(): Long = {
    def once(steps: Long): Long = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      val t = System.nanoTime()
      while (i < steps) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.println("")
      (System.nanoTime() - t) / 1000000L
    }
    once(30000000L)
    once(300000000L)
  }
}

/** CPU time of the JVM's Java threads from construction on: Spark's task
  * threads, the driver and Spark's own threads. A thread that ends before
  * [[seconds]] counts up to the last [[sample]] (a stream's execution
  * thread is sampled just before its query stops). The JIT compiler and GC
  * threads are not counted: the JIT's CPU still halves between the third
  * and the sixth corpus_dedup pass (14 s to 7 s), so it would measure
  * warm-up rather than graft. */
final class CpuMeter {
  private val mx = ManagementFactory.getThreadMXBean
  private def now: Map[Long, Long] =
    mx.getAllThreadIds.map(t => t -> mx.getThreadCpuTime(t)).filter(_._2 >= 0).toMap
  private val start = now
  private val seen = mutable.Map.empty[Long, Long]

  def sample(): Unit = seen ++= now

  def seconds: Double = {
    sample()
    seen.map { case (t, ns) => ns - start.getOrElse(t, 0L) }.sum / 1e9
  }
}
