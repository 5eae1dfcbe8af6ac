package graftbench

import java.io.{BufferedWriter, File}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.{Graft, SparkEntry, Tables}
import graft.sql.Rql
import graft.storage.Segments
import graft.streaming.Realtime

/** One benchmark run in one JVM: set up, warm up, then run the timed
  * window as a closed-loop client (one op at a time). Reads
  * `<runDir>/plan.json` (written by run.py from the run's seed), writes
  * `<runDir>/out.json` (timings, counters, digests) and
  * `<runDir>/results.jsonl` (one captured result per distinct query, for
  * the DuckDB check). It calls only graft's public functions. */
object Main {
  implicit val formats: Formats = DefaultFormats

  type Rec = mutable.LinkedHashMap[String, Any]

  def main(args: Array[String]): Unit = {
    val runDir = args(0)
    val plan = JsonMethods.parse(read(s"$runDir/plan.json"))
    val cores = (plan \ "cores").extract[Int]
    val spark = Graft.session(master = s"local[$cores]", appName = "graftbench",
      shufflePartitions = Some(cores))
    spark.sparkContext.setLogLevel("WARN")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val run = new Run(spark, plan, runDir)
    try {
      val out = run.execute()
      out("session_s") = sessionS
      out("env") = mutable.LinkedHashMap[String, Any](
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "jvm" -> System.getProperty("java.vm.name"),
        "max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toInt,
        "spark_cores" -> cores)
      Files.writeString(Paths.get(s"$runDir/out.json"), Json(out))
    } finally {
      run.close()
      spark.stop()
    }
  }

  def read(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  def dirBytes(path: String): Long = {
    val f = new File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6
}

final class Run(spark: SparkSession, plan: JValue, runDir: String) {
  import Main._

  private val workload = (plan \ "workload").extract[String]
  private val traceOn = (plan \ "trace").extract[Boolean]
  private val dataDir = (plan \ "data_dir").extract[String]
  private val workDir = (plan \ "work_dir").extract[String]
  private val trace = if (traceOn) Some(new Trace(spark)) else None

  private val ops = mutable.ArrayBuffer.empty[Rec]
  private val captures = mutable.Map.empty[String, Int]
  private val results: BufferedWriter =
    Files.newBufferedWriter(Paths.get(s"$runDir/results.jsonl"), UTF_8)
  private val out: Rec = mutable.LinkedHashMap("workload" -> workload)
  /** Whether ops now run inside the timed window. */
  private var inWindow = false
  /** The last op's answer (columns, rows), held for [[settle]]. */
  private var answer: Option[(Seq[String], Array[Row])] = None

  def close(): Unit = results.close()

  def execute(): Rec = {
    workload match {
      case "olap_pruned" => olap()
      case "gate_mix" => gate()
      case "ingest_rollup" => ingest()
    }
    out("ops") = ops
    out
  }

  // ------------------------------------------------------------ ops

  /** Runs one op. A traced op (in a traced run) also gets Spark's counters;
    * a failure is recorded, never thrown. The wall covers `body` only. */
  private def op(rec: Rec, traced: Boolean)(body: Rec => Unit): Rec = {
    rec("i") = ops.size
    rec("timed") = inWindow
    rec("traced") = traced && traceOn
    val t0 = System.nanoTime()
    try {
      trace.filter(_ => traced) match {
        case Some(t) =>
          val (_, layers) = t.traced(ops.size)(body(rec))
          rec("wall_ms") = ms(t0)
          rec("layers") = layers
        case None =>
          body(rec)
          rec("wall_ms") = ms(t0)
      }
    } catch {
      case NonFatal(e) =>
        rec("wall_ms") = ms(t0)
        rec("error") = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
    }
    ops += rec
    rec
  }

  /** Collects `df` (the client fetching its answer); the digest and the
    * captured copy are made after the op's clock stops. */
  private def fetch(rec: Rec, df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val rows = df.collect()
    rec("run_ms") = ms(t0)
    answer = Some((df.columns.toSeq, rows))
  }

  /** Digest of the op's result, and a captured copy the first time `key`
    * is answered. */
  private def settle(rec: Rec, key: String): Unit = {
    answer.filter(_ => !rec.contains("error")).foreach { case (cols, rows) =>
      val canon = rows.toSeq.map(Json.row)
      rec("rows") = rows.length
      rec("digest") = Json.digest(canon)
      rec("capture") = captures.getOrElseUpdate(key, {
        val id = captures.size
        results.write(s"""{"capture":$id,"cols":${Json(cols)},"rows":[${canon.mkString(",")}]}""")
        results.newLine()
        id
      })
    }
    answer = None
  }

  private def rql(rec: Rec, text: String): Unit = {
    val t0 = System.nanoTime()
    val sql = Rql.translate(text)
    rec("translate_us") = ms(t0) * 1000
    fetch(rec, spark.sql(sql))
  }

  /** Which units of a traced run's window are traced: the pattern
    * T U U T T U U T… puts traced and untraced units at the same mean
    * position, so warm-up still running in the window biases neither. */
  private def tracedUnit(k: Int): Boolean = (k + k / 2) % 2 == 0

  /** The timed phase: `step(k)` runs unit k (a block, a round, a batch)
    * for each of a fixed number of units. */
  private def window(units: Int)(step: Int => Unit): Unit = {
    val jvm = JvmWatch.start()
    out("window_start_ms") = System.currentTimeMillis()
    val t0 = System.nanoTime()
    inWindow = true
    (0 until units).foreach(step)
    inWindow = false
    out("window_s") = (System.nanoTime() - t0) / 1e9
    out("window_end_ms") = System.currentTimeMillis()
    out("jvm") = jvm.stop()
  }

  private def timedSetup[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    out(s"${name}_s") = ms(t0) / 1000
    r
  }

  /** Loads the workload's tables into `<workDir>/load`, `reps` times over;
    * `write` gets the load directory and returns the path the table now
    * has. Records each rep's wall and each table of the last rep. Returns
    * the load directory. */
  private def load(tables: Seq[(String, String => String)], reps: Int = 1): String = {
    val dir = s"$workDir/load"
    out("load_s") = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      out("loads") = tables.map { case (name, write) =>
        val t1 = System.nanoTime()
        val path = write(dir)
        mutable.LinkedHashMap[String, Any]("table" -> name, "wall_ms" -> ms(t1),
          "bytes" -> dirBytes(path), "source_bytes" -> dirBytes(Tables.path(dataDir, name)))
      }
      ms(t0) / 1000
    }
    dir
  }

  // ------------------------------------------------------------ olap_pruned

  private def olap(): Unit = {
    val dir = load(Seq(
      "lineitem" -> { d =>
        Segments.write(Tables.lineitem(spark, dataDir), s"$d/lineitem", sortCols = Seq("l_orderkey"),
          indexedCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
          numSegments = 16)
        s"$d/lineitem"
      },
      "events" -> { d =>
        // graft's events convention: `ts` as an epoch-nano long
        Segments.write(Tables.events(spark, dataDir), s"$d/events", sortCols = Seq("ts"),
          indexedCols = Seq("ts", "event_id", "user_id"),
          numSegments = 16, bloomCols = Seq("user_id"), ngramCols = Seq("props"))
        s"$d/events"
      }))
    val listed = Seq("lineitem", "events").map { t =>
      spark.read.format("graft").load(s"$dir/$t").createOrReplaceTempView(t)
      t -> Segments.readManifest(s"$dir/$t").size
    }.toMap
    out("files_listed") = listed
    def runOne(index: Int, o: JValue, traced: Boolean): Unit = {
      val text = (o \ "rql").extract[String]
      val rec = op(mutable.LinkedHashMap("kind" -> "query", "plan_index" -> index,
        "class" -> (o \ "class").extract[String],
        "table" -> (o \ "table").extract[String],
        "sel" -> (o \ "sel").extractOpt[Double].getOrElse(null)), traced)(rql(_, text))
      settle(rec, text)
    }
    val warm = (plan \ "warmup").children
    val timed = (plan \ "timed").children
    timedSetup("warmup") { warm.zipWithIndex.foreach { case (o, i) => runOne(i, o, traced = false) } }
    val perBlock = (plan \ "block_size").extract[Int]
    val blocks = if (traceOn) timed.size / perBlock else (plan \ "timed_blocks").extract[Int]
    // Key-range selectivities rotate with period 4, so traced blocks follow
    // T U T U U T U T: 8 blocks trace every selectivity of both tables
    // once, at the same mean position as the untraced ones.
    window(blocks) { b =>
      (b * perBlock until (b + 1) * perBlock).foreach(k =>
        runOne(warm.size + k, timed(k), traced = (b + b / 4) % 2 == 0))
    }
  }

  // ------------------------------------------------------------ gate_mix

  private def gate(): Unit = {
    // the gate reads the plain single-file parquet in place, as graft's
    // gate does
    val dir = dataDir
    def runOne(name: String, traced: Boolean): Unit = {
      val rec = op(mutable.LinkedHashMap("kind" -> "query", "class" -> name), traced) { r =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, dir)
        r("build_ms") = ms(t0)
        fetch(r, df)
      }
      settle(rec, name)
    }
    val rounds = (plan \ "timed").children.map(_.extract[Seq[String]])
    val timedRounds = if (traceOn) rounds.size else (plan \ "timed_rounds").extract[Int]
    out("oracles") = rounds.flatten.distinct.map(n => n -> SparkEntry.oracleSql.get(n).orNull).toMap
    timedSetup("warmup") {
      (plan \ "warmup").children.map(_.extract[Seq[String]]).foreach(_.foreach(runOne(_, traced = false)))
    }
    // Its load is a scan of every table, five times over in the warm JVM:
    // a single scan before the warm-up was mostly the JVM's cold start and
    // spread 0.3 over ten runs.
    load(Tables.names.map(n => n -> { (_: String) =>
      spark.read.parquet(Tables.path(dataDir, n)).count()
      Tables.path(dataDir, n)
    }), reps = 5)
    // a fixed number of whole rounds, so every query runs equally often
    window(timedRounds)(k => rounds(k).foreach(runOne(_, traced = tracedUnit(k))))
  }

  // ------------------------------------------------------------ ingest_rollup

  private def ingest(): Unit = {
    import org.apache.spark.sql.functions.col
    val spec = Realtime.ingestFromJson(
      graft.model.TableSpec.fromJson((plan \ "rt_table_spec").extract[String]),
      (plan \ "rt_config").extract[String], arrival = "ts")
    val rollup = spec.rollup.get
    val inDir = s"$workDir/rt_in"
    val table = s"$workDir/rt_table"
    new File(inDir).mkdirs()
    val batchDir = s"$runDir/batches"
    val every = (plan \ "compact_every").extract[Int]
    var gen: Option[String] = None
    var compactedThrough = -1
    // the stream's start is this workload's load; its data arrives in batches
    val t0 = System.nanoTime()
    val query = Realtime.start(graft.sources.Streams.jsonFiles(spark, inDir), "json", spec,
      table, s"$workDir/rt_checkpoint")
    out("load_s") = Seq(ms(t0) / 1000)

    def commitOf(b: Int): java.nio.file.Path = Paths.get(s"$table/batch=$b/_SUCCESS")

    def batch(b: Int, traced: Boolean): Unit = {
      val name = f"b$b%05d.jsonl"
      val src = Paths.get(s"$batchDir/$name")
      val rec = op(mutable.LinkedHashMap("kind" -> "batch", "batch" -> b,
        "lines" -> Files.readAllLines(src).size), traced = false) { _ =>
        // the file lands whole (an atomic rename), then the stream picks it up
        Files.move(src, Paths.get(s"$inDir/$name"), StandardCopyOption.ATOMIC_MOVE)
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (!Files.exists(commitOf(b))) {
          if (query.exception.isDefined) throw query.exception.get
          if (System.nanoTime() > deadline) throw new RuntimeException(s"batch $b not committed")
          Thread.sleep(1)
        }
      }
      if (traced && trace.isDefined && !rec.contains("error")) {
        val stats = Realtime.ingestStats(spark.read.text(s"$inDir/$name").toDF("json"),
          "json", spec).head()
        rec("consumed") = stats.getAs[Long]("consumed")
        rec("produced") = stats.getAs[Long]("produced")
        rec("rolled_rows") = spark.read.parquet(s"$table/batch=$b").count()
      }
      if ((b + 1) % every == 0) {
        val parts = new File(table).list().count(_.startsWith("batch="))
        val c = op(mutable.LinkedHashMap("kind" -> "compact", "batch" -> b,
          "parts_read" -> parts), traced = false) { _ =>
          gen = Some(Realtime.compact(spark, table, rollup, indexedCols = Seq("user_id"),
            bloomCols = Seq("event_type")))
        }
        if (!c.contains("error")) {
          compactedThrough = b
          c("bytes_written") = dirBytes(gen.get)
          c("input_bytes") = (0 to b).map(i => Files.size(Paths.get(s"$inDir/" + f"b$i%05d.jsonl"))).sum
        }
      }
    }

    /** The realtime table as a reader sees it: the last compacted
      * generation (through format("graft"), so its manifest prunes) plus
      * the parts dumped since. */
    def read(b: Int, ri: Int, o: JValue, traced: Boolean): Unit = {
      val text = (o \ "rql").extract[String]
      val rec = op(mutable.LinkedHashMap("kind" -> "query",
        "class" -> s"rt_${(o \ "kind").extract[String]}", "batch" -> b, "read" -> ri), traced) { r =>
        val parts = (compactedThrough + 1 to b).map(i => s"$table/batch=$i")
        val frames = gen.map(spark.read.format("graft").load(_)).toSeq ++
          (if (parts.isEmpty) Nil else Seq(spark.read.parquet(parts: _*)))
        frames.reduce(_.unionByName(_)).select(rollup.dims.map(col) :+ col("value"): _*)
          .createOrReplaceTempView("rt_events")
        rql(r, text)
      }
      settle(rec, s"read:$b:$ri")
    }

    def reads(b: Int, s: JValue, traced: Boolean): Unit =
      (s \ "reads").children.zipWithIndex.foreach { case (o, r) => read(b, r, o, traced) }
    val warm = (plan \ "warmup").children
    val timed = (plan \ "timed").children
    try {
      timedSetup("warmup") {
        warm.zipWithIndex.foreach { case (s, b) => batch(b, traced = false); reads(b, s, traced = false) }
      }
      window(timed.size) { k =>
        val b = warm.size + k
        val traced = tracedUnit(k)
        batch(b, traced)
        reads(b, timed(k), traced)
      }
    } finally {
      query.stop()
    }
  }
}

/** JVM counters over the timed window: GC and JIT time from the MXBeans,
  * and peak RSS (the kernel's high-water mark, reset at the window start). */
object JvmWatch {
  final class Watch(gc0: Long, jit0: Long) {
    def stop(): Map[String, Double] = {
      val hwm = scala.util.Try {
        Files.readAllLines(Paths.get("/proc/self/status")).asScala
          .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
          .getOrElse(-1.0)
      }.getOrElse(-1.0)
      Map("gc_ms" -> (gcMs - gc0).toDouble, "jit_ms" -> (jitMs - jit0).toDouble,
        "peak_rss_mb" -> hwm)
    }
  }
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs: Long =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)

  def start(): Watch = {
    // "5" resets the peak-RSS mark (Linux >= 4.0); without it the peak
    // covers the whole process
    scala.util.Try(Files.writeString(Paths.get("/proc/self/clear_refs"), "5"))
    new Watch(gcMs, jitMs)
  }
}
