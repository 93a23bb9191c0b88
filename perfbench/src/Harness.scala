package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.engine.{Pipeline, Sessions}

/** One benchmark run in one driver process: `local[cores]`, one client, a
  * closed loop (the next op starts when the previous one's sink returns).
  *
  * The run first makes an untimed check pass on an input path of its own:
  * every query op's full result is written as parquet for the DuckDB
  * comparison, and `ingest_write` runs the medallion pipeline into a check
  * root. That pass is also the JIT warm-up. Timed passes follow, each on a
  * fresh input path (a new directory of symlinks to the same parquet files),
  * so the program's per-directory caches miss on every pass, as they do for
  * a caller that brings new data. A query op's latency runs from the call
  * into the query function until a full-column `noop` write of its result
  * returns; Catalyst cannot prune any output column from that sink.
  *
  * With tracing on, timed passes alternate untraced and traced. Spans (op,
  * with build / sink children) are kept in memory; Spark, SQL and streaming
  * listeners attribute jobs, tasks, planning phases and micro-batches to the
  * span through a local property or, for threads that do not inherit it,
  * through the span's time window. Everything is written out when the run
  * ends.
  *
  * Usage: Harness <workload> <dataDir> <workDir> <seed> <seconds> <trace 0|1>
  *                <cores> <resultJson>
  */
object Harness {

  /** A workload op: a registered query (timed as build + noop sink) or a
    * pipeline stage (timed as one parquet-writing call). `module` names the
    * program module whose code dominates the op; the traced run reports the
    * module's op time as the per-layer metric `<module>_s`. */
  final case class Op(name: String, module: String)

  /** Two workloads, each a closed loop over its ops. Together they hold one
    * op or more from every program module the per-layer split names, at a
    * cost that fits the benchmark's time budget.
    *
    * `ingest_write` writes: the medallion pipeline's parquet sinks with
    * `observe()` row accounting and the partitioned fact write, then one
    * streaming lineage with its state and checkpoints, built with the
    * program's default `graft.stream.prewarm=0`. Codec, ANN and KPI code
    * never runs here.
    *
    * `query_mix` reads: a star-schema KPI, where the per-job driver floor
    * dominates; dedup, ANN and graph ops, where eager driver work inside the
    * query function dominates; and the PDF, WARC, archive, image and audio
    * codecs, where in-task CPU dominates. No parquet is written and no
    * stream runs here. */
  val workloads: Map[String, Seq[Op]] = Map(
    "ingest_write" -> Seq(
      Op("bronze", "pipeline.bronze"), Op("silver", "pipeline.silver"),
      Op("gold", "pipeline.gold"), Op("q200_stream_hourly", "streaming.lineage")),
    "query_mix" -> Seq(
      Op("q01_pricing_summary", "kpis.query"),
      Op("q19_minhash_neardup", "dedup.hash"),
      Op("q37_ivf_cells", "sim.ann"),
      Op("q104_label_propagation", "graph.iter"),
      Op("q236_pdf_text", "sources.pdf"),
      Op("q230_warc_ingest", "sources.warc"),
      Op("q242_tar_shard_samples", "sources.archive"),
      Op("q228_jpeg_decode", "multimodal.image"),
      Op("q183_audio_decode", "multimodal.audio"))
  )

  /** Every module any workload times, so each workload reports all of them. */
  private val modules = workloads.values.flatten.map(_.module).toSeq.distinct.sorted

  /** Pipeline stages run in medallion order; only query ops are permuted. */
  private val stages = Seq("bronze", "silver", "gold")

  private val SpanKey = "perfbench.span"

  /** Timed passes per run, at the least: every op gets a second sample. */
  private val MinPasses = 2

  // ---- event records, appended by listener threads ----
  // `span` is the span id a Spark job carried in its local properties, or ""
  // when the job ran on a thread that did not inherit them; such records
  // are attributed to the pass whose time window holds `t`.
  final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long)
  final case class Rec(span: String, t: Long)
  final case class TaskRec(span: String, t: Long, busyMs: Long, shufW: Long,
                           shufR: Long, spill: Long, outBytes: Long, outRows: Long)
  final case class PhaseRec(t: Long, analysis: Long, optimizer: Long, planning: Long)
  final case class BatchRec(t: Long, planning: Long, commit: Long)

  private val jobs = new ConcurrentLinkedQueue[Rec]()
  private val stageRecs = new ConcurrentLinkedQueue[Rec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private def nEvents =
    jobs.size + stageRecs.size + tasks.size + phases.size + batches.size

  private def prop(p: java.util.Properties): String =
    if (p == null) "" else Option(p.getProperty(SpanKey)).getOrElse("")

  private object Scheduler extends SparkListener {
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private def spanOf(stage: Int) = Option(stageSpan.get(stage)).getOrElse("")
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = prop(e.properties)
      jobs.add(Rec(s, e.time))
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageRecs.add(Rec(spanOf(e.stageInfo.stageId),
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    // Micro-batch progress reaches the context's bus from every session,
    // including the sessions the program builds for its lineages.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: StreamingQueryListener.QueryProgressEvent =>
        val d = p.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        batches.add(BatchRec(java.time.Instant.parse(p.progress.timestamp).toEpochMilli,
          d.getOrElse("queryPlanning", 0L),
          d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)))
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null && info != null) tasks.add(TaskRec(spanOf(e.stageId),
        info.finishTime, info.duration, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
    }
  }

  private object Catalyst extends QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      def d(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      val t0 = p.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      phases.add(PhaseRec(t0, d("analysis"), d("optimization"), d("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = rec(qe)
  }

  /** Listeners are attached only around traced passes. Events arrive on the
    * listener bus after the fact, so detaching waits until the event count
    * has stopped growing. */
  private def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Scheduler)
    spark.listenerManager.register(Catalyst)
  }

  private def detach(spark: SparkSession): Unit = {
    var last = -1
    var waited = 0
    while (nEvents != last && waited < 50) { last = nEvents; Thread.sleep(200); waited += 1 }
    spark.sparkContext.removeSparkListener(Scheduler)
    spark.listenerManager.unregister(Catalyst)
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Files.list(p).iterator().asScala.toList.foreach(deleteTree)
    Files.delete(p)
  }

  /** A fresh input path: a new directory of symlinks to the input files. */
  private def freshInput(dataDir: Path, at: Path): String = {
    Files.createDirectories(at)
    Files.list(dataDir).iterator().asScala.foreach { f =>
      Files.createSymbolicLink(at.resolve(f.getFileName), f.toAbsolutePath)
    }
    at.toString
  }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  final case class OpResult(name: String, module: String, latS: Double,
                            buildS: Double, sinkS: Double, error: Option[(String, String)])

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDirS, workDirS, seedS, secondsS, traceS, coresS,
      resultPath) = args
    val ops = workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload"))
    val dataDir = Paths.get(dataDirS).toAbsolutePath
    val work = Paths.get(workDirS).toAbsolutePath
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql

    // Session built the way graft.Bench builds it.
    val spark = Sessions.tune(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()

    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    /** Records a span around `body`, which gets the span's id; Spark jobs
      * submitted inside carry the id as a local property. */
    def span[T](parent: Int, name: String)(body: Int => T): T = {
      val id = spans.size
      spans += Span(id, parent, name, System.currentTimeMillis(), 0L)
      val prev = spark.sparkContext.getLocalProperty(SpanKey)
      spark.sparkContext.setLocalProperty(SpanKey, id.toString)
      try body(id) finally {
        spark.sparkContext.setLocalProperty(SpanKey, prev)
        spans(id) = spans(id).copy(t1 = System.currentTimeMillis())
      }
    }

    /** Runs one op; `sink` turns the query's DataFrame into output. A
      * failure is recorded with its exception class and never timed. */
    def runOp(op: Op, dir: String, outRoot: String, passSpan: Int,
              sink: (String, DataFrame) => Unit): OpResult = {
      var build = 0.0
      var sinkS = 0.0
      var err: Option[(String, String)] = None
      val t0 = System.nanoTime()
      span(passSpan, op.name) { opSpan =>
        try {
          if (stages.contains(op.name)) span(opSpan, "sink") { _ =>
            val s0 = System.nanoTime()
            op.name match {
              case "bronze" => Pipeline.bronze(spark, dir, outRoot)
              case "silver" => Pipeline.silver(spark, outRoot)
              case "gold" => Pipeline.gold(spark, outRoot)
            }
            sinkS = (System.nanoTime() - s0) / 1e9
          } else {
            var df: DataFrame = null
            span(opSpan, "build") { _ =>
              val b0 = System.nanoTime()
              df = queries(op.name)(spark, dir)
              build = (System.nanoTime() - b0) / 1e9
            }
            span(opSpan, "sink") { _ =>
              val s0 = System.nanoTime()
              sink(op.name, df)
              sinkS = (System.nanoTime() - s0) / 1e9
            }
          }
        } catch {
          case NonFatal(e) =>
            err = Some(e.getClass.getName -> String.valueOf(e.getMessage).take(300))
        }
      }
      OpResult(op.name, op.module, (System.nanoTime() - t0) / 1e9, build, sinkS, err)
    }

    def order(pass: Int): Seq[Op] = {
      val rng = new Random(seed * 1000003L + pass)
      val (st, qs) = ops.partition(o => stages.contains(o.name))
      st ++ rng.shuffle(qs)
    }

    // ---- untimed check pass (also the JIT warm-up) ----
    val checkDir = work.resolve("check")
    val checkIn = freshInput(dataDir, work.resolve("in").resolve("check"))
    val checkOut = checkDir.resolve("pipeline").toString
    val checked = span(-1, "check") { id =>
      order(0).map(op => runOp(op, checkIn, checkOut, id, (name, df) =>
        df.write.mode("overwrite").parquet(checkDir.resolve("dump").resolve(name).toString)))
    }
    val dumped = ops.map(_.name).filter(queries.contains)
    Files.writeString(checkDir.resolve("oracle_all.json"),
      oracle.map { case (n, sql) => s"${jstr(n)}: ${jstr(sql)}" }.mkString("{", ",", "}"))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    heapAfterGcMb()

    // ---- timed passes ----
    final case class PassResult(pass: Int, traced: Boolean, wallS: Double,
                                heapMb: Double, gcS: Double, span: Int, ops: Seq[OpResult])
    val passes = scala.collection.mutable.ArrayBuffer.empty[PassResult]
    val firstOpMs = System.currentTimeMillis()
    val measureStart = System.nanoTime()
    var p = 1
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    // Passes run until `seconds` have passed, and at least `MinPasses` of
    // them. Traced runs alternate untraced and traced passes, starting and
    // ending untraced, so the overhead comparison brackets every traced pass.
    def passTraced(k: Int) = traced && k % 2 == 0
    while (passes.size < MinPasses || elapsed < seconds || passes.last.traced) {
      val input = freshInput(dataDir, work.resolve("in").resolve(s"p$p"))
      val outRoot = work.resolve("out").resolve(s"p$p")
      val tracedPass = passTraced(p)
      if (tracedPass) attach(spark)
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val (ps, res) = span(-1, s"pass$p") { id =>
        id -> order(p).map(op => runOp(op, input, outRoot.toString, id,
          (_, df) => df.write.format("noop").mode("overwrite").save()))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val gcS = (gcMillis() - gc0) / 1000.0
      if (tracedPass) detach(spark)
      val heap = heapAfterGcMb()
      passes += PassResult(p, tracedPass, wall, heap, gcS, ps, res)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      deleteTree(outRoot)
      p += 1
    }
    val measureS = elapsed

    // ---- per-layer aggregation of the traced passes ----
    val spanById = spans.map(s => s.id -> s).toMap
    def root(id: Int): Int = { var i = id; while (spanById(i).parent >= 0) i = spanById(i).parent; i }
    def known(s: String) = s.toIntOption.filter(spanById.contains)
    def passOf(span: String, t: Long): Option[Int] = known(span).map(root).orElse(
      passes.map(_.span).find(id => t >= spanById(id).t0 && t <= spanById(id).t1))
    def inSink(span: String) = known(span).exists(id => spanById(id).name == "sink")
    val layerLines = passes.filter(_.traced).map { pr =>
      def mine(span: String, t: Long) = passOf(span, t).contains(pr.span)
      val js = jobs.asScala.toSeq.filter(j => mine(j.span, j.t))
      val st = stageRecs.asScala.toSeq.filter(j => mine(j.span, j.t))
      val ts = tasks.asScala.toSeq.filter(t => mine(t.span, t.t))
      val sinkTasks = ts.filter(t => inSink(t.span))
      val ph = phases.asScala.toSeq.filter(x => mine("", x.t))
      val bs = batches.asScala.toSeq.filter(x => mine("", x.t))
      val okOps = pr.ops.filter(_.error.isEmpty)
      val sinkS = okOps.map(_.sinkS).sum
      val mb = 1048576.0
      val m = Seq(
        "entry.build_s" -> okOps.map(_.buildS).sum,
        "catalyst.analysis_s" -> ph.map(_.analysis).sum / 1000.0,
        "catalyst.optimizer_s" -> ph.map(_.optimizer).sum / 1000.0,
        "catalyst.planning_s" -> ph.map(_.planning).sum / 1000.0,
        "scheduler.jobs" -> js.size.toDouble,
        "scheduler.stages" -> st.size.toDouble,
        "scheduler.tasks" -> ts.size.toDouble,
        "scheduler.task_busy_s" -> ts.map(_.busyMs).sum / 1000.0,
        "scheduler.core_util" ->
          (if (sinkS > 0) sinkTasks.map(_.busyMs).sum / 1000.0 / (sinkS * cores) else 0.0),
        "shuffle.write_mb" -> ts.map(_.shufW).sum / mb,
        "shuffle.read_mb" -> ts.map(_.shufR).sum / mb,
        "shuffle.spill_mb" -> ts.map(_.spill).sum / mb,
        "sink.exec_s" -> sinkS,
        "sink.rows" -> sinkTasks.map(_.outRows).sum.toDouble,
        "sink.bytes_written_mb" -> ts.map(_.outBytes).sum / mb,
        "streaming.batches" -> bs.size.toDouble,
        "streaming.batch_planning_s" -> bs.map(_.planning).sum / 1000.0,
        "streaming.batch_commit_s" -> bs.map(_.commit).sum / 1000.0,
        "jvm.gc_s" -> pr.gcS) ++
        modules.map(mod => s"${mod}_s" -> okOps.filter(_.module == mod).map(_.latS).sum)
      m.map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString("{", ",", "}")
    }

    // ---- spans written out when the run ends ----
    val spanOut = new PrintWriter(work.resolve("spans.jsonl").toFile)
    try spans.foreach { s =>
      spanOut.println(s"""{"id":${s.id},"parent":${s.parent},"name":${jstr(s.name)},"t0_ms":${s.t0},"t1_ms":${s.t1}}""")
    } finally spanOut.close()

    def opJson(o: OpResult): String = {
      val e = o.error.map { case (c, msg) => s""","error_class":${jstr(c)},"error":${jstr(msg)}""" }.getOrElse("")
      s"""{"name":${jstr(o.name)},"module":${jstr(o.module)},"ok":${o.error.isEmpty},"lat_s":${jnum(o.latS)},"build_s":${jnum(o.buildS)},"sink_s":${jnum(o.sinkS)}$e}"""
    }
    val passJson = passes.map { pr =>
      s"""{"pass":${pr.pass},"traced":${pr.traced},"wall_s":${jnum(pr.wallS)},"heap_after_gc_mb":${jnum(pr.heapMb)},"gc_s":${jnum(pr.gcS)},"ops":${pr.ops.map(opJson).mkString("[", ",", "]")}}"""
    }
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val json = s"""{"workload":${jstr(workload)},"seed":$seed,"cores":$cores,""" +
      s""""jvm_start_ms":$jvmStart,"session_ready_ms":$sessionReadyMs,"first_op_ms":$firstOpMs,""" +
      s""""measure_s":${jnum(measureS)},"dumped":${dumped.map(jstr).mkString("[", ",", "]")},""" +
      s""""check_ops":${checked.map(opJson).mkString("[", ",", "]")},""" +
      s""""passes":${passJson.mkString("[", ",", "]")},""" +
      s""""layers":${layerLines.mkString("[", ",", "]")},""" +
      s""""listener_events":{"jobs":${jobs.size},"stages":${stageRecs.size},"tasks":${tasks.size},""" +
      s""""plans":${phases.size},"batches":${batches.size}}}"""
    Files.writeString(Paths.get(resultPath), json)
    spark.stop()
  }
}
