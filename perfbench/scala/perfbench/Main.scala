package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.time.{ZoneOffset, ZonedDateTime}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.config.{CompressionType, FormatType, SinkConfig}
import graft.connector.{Grouping, OutputFields, Records}
import graft.formats.{Compression, GroupFileWriter}
import graft.sources.SinkObjectReader
import graft.streaming.S3SinkPipeline

/** The benchmark's JVM side: sets up Spark, runs one workload's timed reps
  * through graft's public entry points, digests what the sink wrote, and in
  * a traced run splits the time by layer. Writes one JSON result file; the
  * Python runner compares digests against the generator's expectations and
  * the DuckDB oracle. */
object Main {

  final case class Opts(workload: String, input: String, work: String,
                        seconds: Double, trace: Boolean, cores: Int,
                        result: String, inject: Option[String])

  private def parse(argv: Array[String]): Opts = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("input"), m("work"), m("seconds").toDouble,
      m("trace") == "1", m("cores").toInt, m("result"), m.get("inject").filter(_.nonEmpty))
  }

  /** Writes the result file and the rows' digests. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(JsonGenerator.Feature.WRITE_BIGDECIMAL_AS_PLAIN, true)

  final case class QueryRun(name: String, schema: StructType, rows: Array[InternalRow],
                            buildS: Double, execS: Double)

  val Queries: Seq[String] = Seq("pipeline_clean_corpus_v6", "dedup_cluster_keep",
    "text_quality_trained", "bpe_train")

  val SinkProps: Map[String, String] = Map(
    "aws.s3.bucket.name" -> "perfbench",
    "format.output.type" -> "jsonl",
    "file.compression.type" -> "gzip",
    "format.output.fields" -> "key,value,offset",
    "format.output.fields.value.encoding" -> "none")

  lazy val sinkConfig: SinkConfig =
    SinkConfig.parse(SinkProps).fold(e => sys.error(e.mkString("; ")), identity)

  /** Set-ups per untraced run; `setup_s` is their median. The traced run
    * reports no set-up time and sets up once. */
  val Setups = 3

  /** A timed rep writes the large batch, and sinks the keepers, this many
    * times and reports the medians, which steadies them against a busy
    * machine. The warm pass and the traced run do it once. */
  val Repeats = 3
  /** The keeper objects are small (~0.2 s to read back): each keeper sink
    * is read back this many times. */
  val KeeperReadbacks = 3

  /** Keepers are delivered to the sink in this many doc_id-range batches. */
  val CurateBatches = 4
  val CuratePartitions = 16

  val batchTime: ZonedDateTime = ZonedDateTime.of(2024, 1, 1, 0, 0, 0, 0, ZoneOffset.UTC)

  // ---------------------------------------------------------------- helpers

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def uri(path: String): String = new File(path).getAbsoluteFile.toURI.toString
  def benchUri(path: String): String =
    s"${CountingFileSystem.Scheme}://" + new File(path).getAbsolutePath

  /** Sink objects under `dir`: names and total bytes. Hadoop's `.crc`
    * sidecars and other hidden files are not objects. */
  def listObjects(dir: String): (Seq[String], Long) = {
    val files = mutable.ArrayBuffer.empty[File]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) files += f
    walk(new File(dir))
    (files.map(_.getName).sorted.toSeq, files.map(_.length).sum)
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Order-independent digest of (topic, partition, offset, value) over
    * every line [[SinkObjectReader]] decodes; topic and partition come from
    * the object name `{{topic}}-{{partition}}-{{start_offset}}.gz`. */
  def readbackDigest(spark: SparkSession, base: String): Map[String, Any] = {
    val re = "^(.+)-([0-9]+)-([0-9]+)\\.gz$"
    val h = md5(concat_ws("|",
      regexp_extract(col("object_name"), re, 1),
      regexp_extract(col("object_name"), re, 2),
      col("offset").cast(StringType), col("value")))
    val r = SinkObjectReader.readJsonl(spark, base, RecordLineSchema)
      .select(h.as("h"))
      .agg(count(lit(1)),
        coalesce(sum(conv(substring(col("h"), 1, 8), 16, 10).cast(LongType)), lit(0L)),
        coalesce(sum(conv(substring(col("h"), 9, 8), 16, 10).cast(LongType)), lit(0L)))
      .collect()(0)
    Map("count" -> r.getLong(0), "hash" -> f"${r.getLong(1)}%x-${r.getLong(2)}%x")
  }

  val RecordLineSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType),
    StructField("offset", LongType)))

  /** A v6 keeper as a sink record: key url_canon, value clean_md5, offset
    * doc_id. */
  val KeeperSchema: StructType = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType),
    StructField("offset", LongType)))

  /** Break one object on purpose (the checks must catch it). */
  def inject(kind: String, dir: String): Unit = {
    val victim = listObjects(dir)._1.head
    val f = Files.walk(Paths.get(dir)).iterator().asScala
      .find(_.getFileName.toString == victim).get
    kind match {
      case "missing" => Files.delete(f)
      case "corrupt" =>
        val bytes = Files.readAllBytes(f)
        val mid = bytes.length / 2
        for (i <- mid until math.min(bytes.length, mid + 16)) bytes(i) = (bytes(i) ^ 0x5a).toByte
        Files.write(f, bytes, StandardOpenOption.TRUNCATE_EXISTING)
      case other => sys.error(s"unknown injection $other")
    }
  }

  /** A Spark type under the name DuckDB gives it, for the oracle's
    * column-type check. */
  def duckdbType(dt: DataType): String = dt match {
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType => "SMALLINT"
    case ByteType => "TINYINT"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case StringType => "VARCHAR"
    case BooleanType => "BOOLEAN"
    case BinaryType => "BLOB"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case a: ArrayType => duckdbType(a.elementType) + "[]"
    case other => other.sql
  }

  /** Render an InternalRow of the query's schema as JSON-able values. */
  def toPlain(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (r: InternalRow, st: StructType) =>
      st.fields.zipWithIndex.map { case (f, i) => toPlain(r.get(i, f.dataType), f.dataType) }.toSeq
    case (a: ArrayData, at: ArrayType) =>
      (0 until a.numElements()).map(i => toPlain(a.get(i, at.elementType), at.elementType))
    case (d: org.apache.spark.sql.types.Decimal, _) => d.toJavaBigDecimal
    case (s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case (x, _) => x
  }

  /** A fixed CPU probe that runs only in the JVM: best of three SHA-256
    * passes over 32 MiB of fixed bytes, in milliseconds. */
  def cpuCalibrationMs(): Double = {
    val buf = Array.tabulate[Byte](32 << 20)(i => (i * 31 + 7).toByte)
    (1 to 3).map { _ =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val (_, s) = timed(md.digest(buf))
      s * 1000
    }.min
  }

  def peakRssMb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status")
    try lines.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally lines.close()
  }

  // ------------------------------------------------------------- the runner

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val result = mutable.LinkedHashMap.empty[String, Any]
    val calib = cpuCalibrationMs()
    val bench = new Bench(o)
    try bench.run(result)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        result("fatal") = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
    } finally bench.stop()
    result("env") = Map(
      "cpu_calibration_ms" -> calib, "master" -> s"local[${o.cores}]",
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "available_processors" -> Runtime.getRuntime.availableProcessors())
    result("peak_rss_mb") = peakRssMb()
    json.writeValue(new File(o.result), result)
    System.exit(0)
  }
}

/** One workload in one JVM. */
final class Bench(o: Main.Opts) {
  import Main._

  private val trace = new Trace
  private var spark: SparkSession = _
  private val work = new File(o.work).getAbsoluteFile
  private var outSeq = 0

  private def newSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", uri(new File(work, "warehouse").getPath))
      .config("spark.hadoop.fs.benchfs.impl", classOf[CountingFileSystem].getName)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    trace.attach(s.sparkContext, s)
    s
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def freshDir(kind: String): String = {
    outSeq += 1
    val d = new File(work, s"$kind-$outSeq")
    deleteTree(d)
    d.getPath
  }

  private def inputDir(name: String) = new File(o.input, name).getPath

  // -------------------------------------------------------------- workloads

  /** One drain of a stream directory through `S3SinkPipeline.start`. */
  private def drain(dir: String, out: String): Seq[BatchProgress] = {
    trace.clearBatches()
    val records = spark.readStream.schema(Records.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val ckpt = freshDir("ckpt")
    trace.span("streaming.drain") {
      val q = S3SinkPipeline.start(records, sinkConfig, uri(out), uri(ckpt), 0L)
      try q.processAllAvailable() finally q.stop()
      q.exception.foreach(e => throw e)
    }
    trace.drain()
    deleteTree(new File(ckpt))
    trace.synchronized(trace.progress.toSeq)
  }

  private def readback(out: String): (Map[String, Any], Double) =
    timed(trace.span("sources.readback")(readbackDigest(spark, uri(out))))

  /** Digest + object listing of one written output; the runner compares
    * them with the generator's expectation. */
  private def describe(out: String, digest: Map[String, Any], allNames: Boolean): Map[String, Any] = {
    val (names, bytes) = listObjects(out)
    Map("digest" -> digest, "objects" -> names.size, "bytes" -> bytes,
      "names_sha256" -> sha256(names.mkString("\n"))) ++
      (if (allNames) Map("names" -> names) else Map.empty)
  }

  /** One sink output: write time, read-back time, and what was written. */
  private final case class Phase(write: Double, readback: Double, out: Map[String, Any])

  private final case class Rep(wall: Double, phases: Map[String, Phase],
                               batchMs: Seq[Double], progress: Seq[BatchProgress] = Nil,
                               queries: Seq[QueryRun] = Nil)

  /** Write into a fresh directory, then decode every object back
    * `readbacks` times (the read-back time is their median; every digest
    * must agree). */
  private def sinkPhase(injectNow: Boolean, readbacks: Int = 1)(write: String => Unit): Phase = {
    val out = freshDir("out")
    val (_, ws) = timed(write(out))
    if (injectNow) o.inject.foreach(inject(_, out))
    val reads = (1 to readbacks).map { _ =>
      try readback(out)
      catch { case e: Exception => (Map("error" -> e.toString.take(300)), 0.0) }
    }
    val digests = reads.map(_._1).distinct
    val digest = if (digests.size == 1) digests.head
      else Map("error" -> s"read-backs disagree: ${digests.mkString("; ")}")
    val d = describe(out, digest, allNames = injectNow)
    deleteTree(new File(out))
    Phase(ws, median(reads.map(_._2)), d)
  }

  /** Micro-batches: a stream directory drained through `S3SinkPipeline.start`. */
  private def streamPhase(dir: String, injectNow: Boolean): (Phase, Seq[BatchProgress]) = {
    var progress: Seq[BatchProgress] = Nil
    val phase = sinkPhase(injectNow) { out =>
      progress = drain(dir, out)
    }
    (phase, progress)
  }

  /** One large batch through `S3SinkPipeline.writeBatch`. */
  private def batchPhase(batch: DataFrame, injectNow: Boolean): Phase =
    sinkPhase(injectNow) { out =>
      trace.span("streaming.write_batch")(
        S3SinkPipeline.writeBatch(batch, sinkConfig, uri(out), batchTime))
    }

  private def sinkRep(streamDir: String, batch: DataFrame, injectNow: Boolean,
                      repeats: Int): Rep = {
    val t0 = System.nanoTime()
    val (stream, progress) = streamPhase(streamDir, injectNow)
    val big = (1 to repeats).map(i => s"batch$i" -> batchPhase(batch, injectNow = false))
    Rep(secondsSince(t0), (("stream" -> stream) +: big).toMap,
      progress.map(_.triggerMs.toDouble), progress)
  }

  private var cachedBatch: DataFrame = _

  /** Run one registry query as the bench protocol does (build the
    * DataFrame, execute its own plan via `queryExecution.toRdd`), keeping
    * the rows for the oracle comparison. */
  private def runQuery(q: String, dir: String): QueryRun = {
    val (df, b) = timed(trace.span("ops.build", q)(SparkEntry.queries(q)(spark, dir)))
    val (rows, e) = timed(trace.span("ops.exec", q)(
      df.queryExecution.toRdd.map(_.copy()).collect()))
    spark.catalog.clearCache()
    QueryRun(q, df.schema, rows, b, e)
  }

  /** Keeper records named by the sink template: topic `corpus`, partition
    * doc_id mod 16, start offset the group's lowest doc_id. */
  private def keeperNamed(df: DataFrame): DataFrame = {
    val p = df.withColumn("_p", pmod(col("offset"), lit(CuratePartitions.toLong)))
    p.withColumn("_filename", concat(
      Grouping.filenameColumn(sinkConfig.fileNameTemplate, Map(
        "topic" -> lit("corpus"), "partition" -> col("_p"),
        "start_offset" -> Grouping.startOffset(Seq(col("_p")))), batchTime),
      lit(sinkConfig.compression.extension)))
  }

  /** The sink's JSON line (`key,value,offset`) as graft's OutputFields
    * encodes it. */
  private def withLine(df: DataFrame): DataFrame =
    df.withColumn("_line", OutputFields.jsonLine(sinkConfig.outputFields, df.schema))

  private def keeperLines(batch: Seq[Row]): DataFrame =
    withLine(keeperNamed(spark.createDataFrame(batch.asJava, KeeperSchema)))

  /** v6's keepers in doc_id order, cut into [[CurateBatches]] batches. */
  private def keeperBatches(v6: QueryRun): Seq[Seq[Row]] = {
    val Seq(docId, url, md5, keep) =
      Seq("doc_id", "url_canon", "clean_md5", "keep").map(v6.schema.fieldIndex)
    val keepers = v6.rows.filter(_.getBoolean(keep)).map { r =>
      Row(r.getUTF8String(url).toString, r.getUTF8String(md5).toString, r.getLong(docId))
    }.sortBy(_.getLong(2)).toSeq
    val step = math.max(1, (keepers.size + CurateBatches - 1) / CurateBatches)
    keepers.grouped(step).toSeq
  }

  /** The queries in order, v6 first; after v6 and each following query
    * until there are `repeats` of them, v6's keepers are sunk batch by
    * batch through `GroupFileWriter.writeLines` into a fresh directory.
    * Interleaved, the keeper sinks' samples span the rep rather than one
    * stretch of it. */
  private def curateRep(dir: String, injectNow: Boolean, repeats: Int,
                        queries: Seq[String] = Queries): Rep = {
    val t0 = System.nanoTime()
    val v6 = runQuery(queries.head, dir)
    val batches = keeperBatches(v6)
    val sinks = mutable.ArrayBuffer.empty[(String, Phase)]
    val batchMs = mutable.ArrayBuffer.empty[Double]
    def sinkKeepers(): Unit = {
      val i = sinks.size + 1
      sinks += s"keepers$i" -> sinkPhase(injectNow && i == 1, KeeperReadbacks) { out =>
        batches.foreach { b =>
          batchMs += 1000 * timed(trace.span("formats.write_lines")(
            GroupFileWriter.writeLines(keeperLines(b), uri(out), FormatType.Jsonl,
              CompressionType.Gzip)))._2
        }
      }
    }
    sinkKeepers()
    val rest = queries.tail.map { q =>
      val r = runQuery(q, dir)
      if (sinks.size < repeats) sinkKeepers()
      r
    }
    Rep(secondsSince(t0), sinks.toMap, batchMs.toSeq, queries = v6 +: rest)
  }

  private def rowsSha(r: QueryRun): String =
    sha256(r.rows.map(x => json.writeValueAsString(toPlain(x, r.schema))).sorted.mkString("\n"))

  // ----------------------------------------------------------------- phases

  /** The warm pass: the workload's own path on small inputs, each sink
    * once. For curate it runs v6 and the keeper sink only: the other three
    * queries' build-phase jobs cost ~0.1 s each on a 4-core machine and
    * set-up runs three times, so the first timed rep pays their first-run
    * cost instead. */
  private def warm(): Unit = o.workload match {
    case "sink" =>
      sinkRep(inputDir("warm_stream"),
        spark.read.schema(Records.schema).parquet(inputDir("warm_batch")), injectNow = false,
        repeats = 1)
    case "curate_to_sink" =>
      curateRep(inputDir("warm"), injectNow = false, repeats = 1, Queries.take(1))
  }

  private def prepare(): Unit = if (o.workload == "sink") {
    cachedBatch = spark.read.schema(Records.schema).parquet(inputDir("batch")).cache()
    cachedBatch.count()
  }

  /** Timed reps repeat the sinks; the traced run's reps (one untraced,
    * one traced, one on a single core) sink once each. */
  private val repeats = if (o.trace) 1 else Repeats

  private def rep(injectNow: Boolean): Rep = o.workload match {
    case "sink" => sinkRep(inputDir("stream"), cachedBatch, injectNow, repeats)
    case "curate_to_sink" => curateRep(inputDir("main"), injectNow, repeats)
  }

  def run(result: mutable.Map[String, Any]): Unit = {
    Files.createDirectories(work.toPath)
    // set-up: session start to ready, warm pass included, several times
    // the traced run reports no set-up time: one set-up is enough there
    val setups = (1 to (if (o.trace) 1 else Setups)).map { _ =>
      stop()
      val t0 = System.nanoTime()
      spark = newSession(o.cores)
      val session = secondsSince(t0)
      warm()
      (session, secondsSince(t0))
    }
    result("setup_s") = setups.map(_._2)
    result("setup_session_s") = setups.map(_._1)
    prepare()

    val reps = mutable.ArrayBuffer.empty[Rep]
    val t0 = System.nanoTime()
    while (reps.isEmpty || (!o.trace && secondsSince(t0) < o.seconds))
      reps += rep(injectNow = reps.isEmpty && o.inject.isDefined)
    result("timed_s") = secondsSince(t0)
    result("reps") = reps.map { r =>
      Map("wall_s" -> r.wall, "batch_ms" -> r.batchMs,
        "batches" -> r.progress.map(_.batchId).distinct.size,
        "phases" -> r.phases.map { case (k, p) =>
          k -> Map("write_s" -> p.write, "readback_s" -> p.readback, "out" -> p.out) },
        "queries" -> r.queries.map(q => q.name -> Map("build_s" -> q.buildS,
          "exec_s" -> q.execS, "rows" -> q.rows.length, "rows_sha256" -> rowsSha(q))).toMap,
        "durations" -> r.progress.map(_.durations))
    }
    if (o.workload == "curate_to_sink") {
      val last = reps.last.queries
      // the oracle half of the curate check, and the keeper lines' bytes
      result("query_rows") = last.map(q => q.name -> Map(
        "columns" -> q.schema.fieldNames.toSeq,
        "rows" -> q.rows.map(toPlain(_, q.schema)).toSeq,
        "types" -> q.schema.fields.map(f => duckdbType(f.dataType)).toSeq,
        "oracle_sql" -> SparkEntry.oracleSql(q.name))).toMap
      result("keeper_layout") = Map("batches" -> CurateBatches, "partitions" -> CuratePartitions)
      result("keeper_line_bytes") = keeperBatches(last.head).map { b =>
        keeperLines(b).agg(sum(length(col("_line")) + 1)).collect()(0).getLong(0)
      }.sum
    }
    if (o.trace) result("trace") = new Layers().run(reps.toSeq)
  }

  // ------------------------------------------------------ traced decomposition

  /** Per-layer metrics: one traced rep (its spans and engine counters),
    * sink prefixes materialised one layer at a time, codec and FileSystem
    * probes, probes for layers this workload does not pass through, and a
    * `local[1]` pass for the single-core baseline. */
  private final class Layers {
    val m = mutable.LinkedHashMap.empty[String, Any]
    def put(k: String, v: Double): Unit = m(k) = v
    private val parts = mutable.LinkedHashMap.empty[String, Double]
    private def part[T](name: String)(body: => T): T = {
      val (r, s) = timed(body)
      parts(name) = s
      r
    }

    /** The part of a rep that the set-up's warm pass also ran, so it is
      * warm in the untraced and the traced rep alike: all of it for sink;
      * for curate, v6 and the keeper sink (the other three queries run for
      * the first time in the process in the first untraced rep). */
    private def warmPart(r: Rep): Double =
      r.queries.headOption.map(q => q.buildS + q.execS).getOrElse(0.0) +
        (if (r.queries.isEmpty) r.wall else r.phases.values.map(p => p.write + p.readback).sum)

    def run(untracedReps: Seq[Rep]): Map[String, Any] = {
      trace.activate()
      val before = trace.spans.size
      val t0 = System.nanoTime()
      val r = trace.span("rep")(rep(injectNow = false))
      val tracedWall = secondsSince(t0)
      trace.drain()
      val root = trace.byName("rep").last
      val top = trace.spans.drop(before).filter(_.parent == root.id)
      val engine = trace.subtree(root)
      put("engine.executor_run_s", engine.runNs / 1e9)
      put("engine.executor_cpu_s", engine.cpuNs / 1e9)
      put("engine.scheduler_delay_s", engine.schedDelayMs / 1e3)
      put("engine.gc_s", engine.gcMs / 1e3)
      put("engine.task_failures", engine.taskFailures.toDouble)
      // exchange and spill of one bulk sink write in the traced rep (the
      // layer-by-layer writes below start from data already partitioned)
      val bulk = trace.spans.drop(before).filter(s =>
        s.name == "streaming.write_batch" || s.name == "formats.write_lines")
      val bulkWrite = (if (o.workload == "sink") bulk.take(1) else bulk).map(trace.subtree)
      put("formats.shuffle_write_bytes", bulkWrite.map(_.shuffleWriteBytes).sum.toDouble)
      put("formats.spill_bytes", bulkWrite.map(_.spillBytes).sum.toDouble)
      val bytes = r.phases.values.map(_.out("bytes").asInstanceOf[Long]).sum
      put("sources.readback_bytes", bytes.toDouble)
      put("sources.readback_mb_per_s",
        bytes / 1e6 / math.max(r.phases.values.map(_.readback).sum, 1e-9))
      val spanTable = trace.spans.drop(before).map { s =>
        Map("id" -> s.id, "name" -> s.name, "tag" -> s.tag, "parent" -> s.parent,
          "start_s" -> (s.start - root.start) / 1e9, "end_s" -> (s.end - root.start) / 1e9,
          "self_s" -> trace.selfSeconds(s), "engine" -> s.counters.toMap)
      }

      o.workload match {
        case "sink" =>
          streamingMetrics(r.progress)
          part("sink_layers")(sinkLayers(spark.read.schema(Records.schema).parquet(inputDir("batch")),
            recordsNamed))
          part("ops_probe")(opsMetrics())
        case "curate_to_sink" =>
          streamingMetrics(part("stream_probe")(streamPhase(inputDir("probe_stream"), injectNow = false)._2))
          part("sink_layers")(sinkLayers(
            spark.createDataFrame(keeperBatches(r.queries.head).flatten.asJava, KeeperSchema),
            keeperNamed,
            scan = Some(spark.read.parquet(new File(inputDir("main"), "documents.parquet").getPath))))
          opsFromSpans(before)
      }
      val untraced = median(untracedReps.map(_.wall))
      val single = part("single_core")(singleCore())
      put("engine.speedup_vs_1core", single / tracedWall)
      m.toMap ++ Map(
        "spans" -> spanTable,
        "traced_wall_s" -> tracedWall, "untraced_wall_s" -> untraced,
        "tracing_overhead_s" -> (tracedWall - untraced),
        "tracing_overhead_warm_s" -> (warmPart(r) - median(untracedReps.map(warmPart))),
        "top_level_covered_s" -> top.map(_.seconds).sum,
        "uncovered_s" -> (root.seconds - top.map(_.seconds).sum),
        "single_core_wall_s" -> single, "parts_s" -> parts.toMap)
    }

    private def recordsNamed(df: DataFrame): DataFrame = Grouping.annotate(df, sinkConfig, batchTime)

    private def streamingMetrics(progress: Seq[BatchProgress]): Unit = {
      put("streaming.add_batch_ms_p50", median(progress.map(_.addBatchMs.toDouble)))
      put("streaming.overhead_ms_p50", median(progress.map(p => (p.triggerMs - p.addBatchMs).toDouble)))
      put("streaming.planning_ms_p50", median(progress.map(_.planningMs.toDouble)))
      val per = trace.synchronized(trace.batches.values.toSeq)
      val n = math.max(1, per.size).toDouble
      put("streaming.jobs_per_batch", per.map(_.jobs).sum / n)
      put("streaming.stages_per_batch", per.map(_.stages).sum / n)
      put("streaming.tasks_per_batch", per.map(_.tasks).sum / n)
    }

    /** The sink plan one layer at a time, each layer materialised (cached)
      * on top of the previous one: scan, group, encode; then the encoded
      * lines written without a codec, and with gzip through the counting
      * FileSystem for the FileSystem and object counters. */
    private def sinkLayers(input: DataFrame, named: DataFrame => DataFrame,
                           scan: Option[DataFrame] = None): Unit = {
      def materialise(name: String, df: DataFrame): (DataFrame, Double) = {
        val c = df.cache()
        (c, timed(trace.span(name)(c.count()))._2)
      }
      val (batch, inputS) = materialise("sources.scan", input)
      put("sources.scan_s", scan.map(d => timed(trace.span("sources.scan")(
        d.queryExecution.toRdd.count()))._2).getOrElse(inputS))
      val (g, groupS) = materialise("connector.group", named(batch))
      val (lined, encS) = materialise("connector.encode", withLine(g))
      val lb = lined.agg(sum(length(col("_line")) + 1)).collect()(0).getLong(0)
      put("connector.group_s", groupS)
      put("connector.encode_s", encS)
      put("connector.line_bytes", lb.toDouble)
      val groupCols = if (o.workload == "curate_to_sink") Seq("_filename") else Seq("topic", "partition")

      val plain = freshDir("layer-none")
      put("formats.write_s", timed(trace.span("formats.write_none")(
        GroupFileWriter.writeLines(lined, uri(plain), FormatType.Jsonl,
          CompressionType.None, groupCols)))._2)
      deleteTree(new File(plain))

      val gz = freshDir("layer-gzip")
      CountingFileSystem.reset()
      trace.span("formats.write_gzip")(
        GroupFileWriter.writeLines(lined, benchUri(gz), FormatType.Jsonl,
          CompressionType.Gzip, groupCols))
      put("formats.fs_create_calls", CountingFileSystem.CreateCalls.get.toDouble)
      put("formats.fs_write_s", CountingFileSystem.WriteNanos.get / 1e9)
      val (names, bytes) = listObjects(gz)
      put("formats.objects", names.size.toDouble)
      put("formats.bytes_out", bytes.toDouble)
      deleteTree(new File(gz))

      // codecs alone: the encoded lines through Compression.wrap into a
      // stream that keeps only a byte count; task time summed
      val lines = materialise("formats.lines", lined.select(col("_line")))._1
      Seq(CompressionType.Gzip, CompressionType.Snappy, CompressionType.Zstd).foreach { codec =>
        val acc = spark.sparkContext.longAccumulator(s"compress-${codec.name}")
        trace.span("formats.compress", codec.name) {
          lines.foreachPartition { (it: Iterator[Row]) =>
            val t = System.nanoTime()
            val sink = new java.io.OutputStream {
              override def write(b: Int): Unit = ()
              override def write(b: Array[Byte], off: Int, len: Int): Unit = ()
            }
            val out = Compression.wrap(sink, codec)
            it.foreach { r => out.write(r.getString(0).getBytes("UTF-8")); out.write('\n') }
            out.close()
            acc.add(System.nanoTime() - t)
          }
        }
        val s = acc.value / 1e9
        put(s"formats.compress_s.${codec.name}", s)
        put(s"formats.compress_mb_per_s.${codec.name}", lb / 1e6 / math.max(s, 1e-9))
      }
      Seq(lines, lined, g, batch).foreach(_.unpersist())
    }

    /** Sink workloads run no query: the curate list on the small probe
      * corpus keeps the ops metrics live measurements. */
    private def opsMetrics(): Unit = {
      val before = trace.spans.size
      Queries.foreach(q => runQuery(q, inputDir("probe_corpus")))
      opsFromSpans(before)
    }

    private def opsFromSpans(from: Int): Unit = {
      trace.drain()
      val spans = trace.spans.drop(from)
      Queries.foreach { q =>
        val b = spans.filter(s => s.name == "ops.build" && s.tag == q).last
        val e = spans.filter(s => s.name == "ops.exec" && s.tag == q).last
        val cb = trace.subtree(b)
        val ce = trace.subtree(e)
        put(s"ops.$q.build_s", b.seconds)
        put(s"ops.$q.exec_s", e.seconds)
        put(s"ops.$q.build_jobs", cb.jobs.toDouble)
        put(s"ops.$q.exec_jobs", ce.jobs.toDouble)
        put(s"ops.$q.stages", (cb.stages + ce.stages).toDouble)
        put(s"ops.$q.shuffle_bytes", (cb.shuffleWriteBytes + ce.shuffleWriteBytes).toDouble)
        put(s"ops.$q.spill_bytes", (cb.spillBytes + ce.spillBytes).toDouble)
      }
    }

    /** One untraced rep on `local[1]`: the single-thread baseline. */
    private def singleCore(): Double = {
      stop()
      spark = newSession(1)
      prepare()
      rep(injectNow = false).wall
    }
  }
}
