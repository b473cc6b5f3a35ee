package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one seed, one closed-loop client
  * thread against a `Sessions.local(cpus)` session.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <inputDir> <workDir> <cpus>
  *
  * Set-up starts the session and warms the whole panel once on the generated
  * inputs. The timed phase then runs seeded, shuffled rounds of the panel
  * until `seconds` have passed (the round in flight completes), never
  * starting a round with the op that ran last. With trace 1 a [[Tracer]] is
  * attached on alternate rounds, so one run yields both the per-layer
  * numbers and the tracing overhead. Everything is written to
  * `<workDir>/result.json`; run.py checks it and prints the metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(wname, seedS, secondsS, traceS, inputDir, workDir, cpus) = args
    val seed = seedS.toLong
    val trace = traceS == "1"
    val work = new File(workDir).getAbsoluteFile
    val t0 = System.nanoTime()
    val spark = Env.start(cpus, work, wname)
    val sessionS = (System.nanoTime() - t0) / 1e9
    graft.Sessions.quietBoundedGlobalWindowWarnings()

    val w = Workload(wname, spark, inputDir, work, seed)
    val recs = mutable.ArrayBuffer[OpRec]()
    val failures = mutable.LinkedHashMap[String, String]()
    var nextId = 1L
    val t0Nano = System.nanoTime(); val t0Epoch = System.currentTimeMillis().toDouble
    def epoch(n: Long) = t0Epoch + (n - t0Nano) / 1e6

    // each op's first digest (from the warm pass) is its reference
    val reference = mutable.HashMap[String, String]()
    def runOp(op: Op, round: Int, traced: Boolean): OpRec = {
      val ctx = new Ctx(spark, nextId); nextId += 1
      def fail(why: String) = { failures(op.name) = why; false }
      val s = System.nanoTime()
      val outcome = try Right(op.run(ctx)) catch { case e: Throwable => Left(e) }
      val e = System.nanoTime()
      val ok = outcome match {
        case Left(err) => fail(s"${err.getClass.getSimpleName}: ${err.getMessage}".take(300))
        case Right(o) => o.check() match {
          case (_, Some(problem)) => fail(problem)
          case (digest, None) =>
            val known = reference.getOrElseUpdate(op.name, digest)
            known == digest || fail(s"result digest $digest != reference $known")
        }
      }
      if (traced) w.observe(op, ctx)
      if (round == 0 && ok) w.dump(op, ctx)
      OpRec(ctx.opId, op.name, op.layer, round, traced, epoch(s), epoch(e),
        ctx.phases.map { case (n, a, b) => (n, epoch(a), epoch(b)) }.toSeq, ok)
    }

    // ---- set-up: staging and one warm pass over the whole panel ----
    val warmStart = System.nanoTime()
    w.setup()
    val warmOps = w.warmup()
    warmOps.foreach(op => runOp(op, 0, traced = false))
    val warmupS = (System.nanoTime() - warmStart) / 1e9
    var last = warmOps.lastOption.map(_.name).getOrElse("")

    // ---- timed rounds ----
    val rng = new Random(seed)
    val tracer = if (trace) Some(new Tracer) else None
    val gcBefore = gcMs()
    val rounds = mutable.ArrayBuffer[Map[String, Double]]()
    // Live heap and retained disk are sampled at two fixed points of work,
    // after set-up and after the first timed round, so they do not grow
    // with the number of rounds a faster program fits into the run.
    val fixedPoints = mutable.ArrayBuffer(Env.settledSample(work))
    val timedStart = System.nanoTime()
    var round = 1
    // a traced run needs one traced and one untraced round for its overhead figure
    def more = (System.nanoTime() - timedStart) / 1e9 < secondsS.toDouble || (trace && round <= 2)
    while (more && w.hasMore) {
      val traced = tracer.isDefined && round % 2 == 1
      tracer.foreach(t => if (traced) spark.sparkContext.addSparkListener(t))
      val ops = Workload.avoidRepeat(w.round(rng), last, rng)
      val rs = System.nanoTime()
      ops.foreach(op => recs += runOp(op, round, traced))
      val roundMs = (System.nanoTime() - rs) / 1e6
      tracer.foreach(t => if (traced) {
        t.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t)
      })
      last = ops.lastOption.map(_.name).getOrElse(last)
      if (round == 1) fixedPoints += Env.settledSample(work)
      rounds += Map("round" -> round.toDouble, "ms" -> roundMs, "traced" -> (if (traced) 1.0 else 0.0),
        "ops" -> ops.size.toDouble, "storage_mb" -> storageMb(spark),
        "scratch_mb" -> Env.dirMb(new File(work, "tmp")))
      round += 1
    }
    val timedS = (System.nanoTime() - timedStart) / 1e9
    val gcS = (gcMs() - gcBefore) / 1e3

    // ---- per-layer numbers (traced runs only) ----
    val layer = mutable.LinkedHashMap[String, Double]()
    tracer.foreach { t =>
      val spans = t.spans(recs.toSeq)
      layer ++= Layers.shared(recs.toSeq, spans, t, rounds.toSeq, cpus.toInt, gcS)
      layer("spark.local_retained_mb") = fixedPoints.last("spark_local_mb")
      layer ++= w.layerMetrics(recs.toSeq.filter(_.traced), t)
      json.writeValue(new File(work, "trace.json"), Map("spans" -> spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.start, "end_ms" -> s.end)), "self_ms" -> Tracer.selfTime(spans)))
    }

    json.writeValue(new File(work, "result.json"), Map(
      "workload" -> wname, "seed" -> seed, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "timed_s" -> timedS, "heap_peak_mb" -> fixedPoints.map(_("heap_mb")).max,
      "disk_retained_mb" -> fixedPoints.last("disk_mb"), "fixed_points" -> fixedPoints.toSeq,
      "samples" -> recs.map(r => Map("op" -> r.name, "layer" -> r.layer, "round" -> r.round,
        "traced" -> r.traced, "ok" -> r.ok, "ms" -> (r.end - r.start),
        "phases" -> r.phases.groupMapReduce(_._1)(p => p._3 - p._2)(_ + _))).toSeq,
      "rounds" -> rounds.toSeq, "failures" -> failures.toMap, "layer" -> layer.toMap,
      "facts" -> w.facts))
    spark.stop()
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Block-manager storage in use across executors (cached and checkpointed
    * blocks, broadcasts). */
  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0
}

/** Session start with every directory the engine writes to redirected into
  * the run's work directory. */
object Env {
  def start(cpus: String, work: File, workload: String): SparkSession = {
    Seq("tmp", "warehouse", "spark-local").foreach(d => new File(work, d).mkdirs())
    val extra = Map(
      "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath,
      "spark.local.dir" -> new File(work, "spark-local").getPath)
    graft.Sessions.local(cpus, appName = s"perfbench-$workload", extraConfs = extra)
  }

  /** Bytes under `f`; files that vanish mid-walk (Spark's cleaner runs
    * concurrently) count as gone. */
  def dirMb(f: File): Double = {
    var bytes = 0L
    if (f.exists()) Files.walkFileTree(f.toPath, new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
      override def visitFile(p: java.nio.file.Path, a: java.nio.file.attribute.BasicFileAttributes) = {
        bytes += a.size(); java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: java.nio.file.Path, e: java.io.IOException) =
        java.nio.file.FileVisitResult.CONTINUE
    })
    bytes / 1048576.0
  }

  /** Live heap after a full GC, and the bytes the program keeps on disk:
    * scratch, warehouse and the workload's output tree (`disk_mb`), and
    * Spark's local dirs apart (`spark_local_mb`), whose shuffle files go as
    * the cleaner gets to collected plans, so their size at any instant
    * depends on GC timing. */
  def settledSample(work: File): Map[String, Double] = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val r = Runtime.getRuntime
    Map("heap_mb" -> (r.totalMemory() - r.freeMemory()) / 1048576.0,
      "disk_mb" -> Seq("tmp", "warehouse", "out").map(d => dirMb(new File(work, d))).sum,
      "spark_local_mb" -> dirMb(new File(work, "spark-local")))
  }
}
