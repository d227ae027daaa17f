package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One operation of a workload's closed loop. `run` does the timed work
  * and returns a thunk that gathers the output the checks need; the loop
  * calls the thunk after the clock stops. */
final case class Op(kind: String, name: String, rows: Long,
                    run: () => (() => Map[String, Any]))

/** A workload: `setup` builds its serving state from the generated
  * inputs, `warmup` gives the untimed ops that run after the last
  * set-up, and `cycle` gives the ops of loop cycle `c`. */
trait Workload {
  def setup(i: Int): Unit
  def warmup(): Seq[Op]
  def cycle(c: Int): Seq[Op]
  def close(): Unit
}

/** The closed loop: one client, the next op starts when the previous
  * one returns. A thrown NonFatal error marks the op failed and gives
  * no latency sample; fatal JVM errors propagate and end the run. */
final class Loop(tracer: Option[Tracer]) {
  val records = Seq.newBuilder[Map[String, Any]]
  private var seq = 0

  def runOp(op: Op, cycle: Int, warmup: Boolean,
            traced: Boolean): Map[String, Any] = {
    val id = seq
    seq += 1
    tracer.foreach { t => t.op = id; t.parent = s"op:${op.name}" }
    val base = Map[String, Any]("id" -> id, "cycle" -> cycle,
      "kind" -> op.kind, "op" -> op.name, "rows" -> op.rows,
      "warmup" -> warmup, "traced" -> traced)
    val t0 = System.nanoTime()
    val rec = try {
      val gather = op.run()
      val ms = (System.nanoTime() - t0) / 1e6
      base ++ Map("ok" -> true, "ms" -> ms, "out" -> gather())
    } catch {
      case NonFatal(e) =>
        base ++ Map("ok" -> false, "ms" -> (System.nanoTime() - t0) / 1e6,
          "error" -> e.toString.take(500))
    }
    records += rec
    rec
  }
}

object Json {
  private val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case a: Array[_] => a.map(toJava).toList.asJava
    case o: Option[_] => o.map(toJava).orNull
    case null => null
    case x => x.asInstanceOf[AnyRef]
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))
  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))
}

/** Old-generation occupancy after the latest major (full) collection,
  * from GC notifications. */
final class HeapWatch {
  @volatile var afterMajorGc = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
    gc.asInstanceOf[javax.management.NotificationEmitter]
      .addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management
            .GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[
              javax.management.openmbean.CompositeData])
          if (info.getGcAction.contains("major"))
            afterMajorGc = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, use) if pool.contains("Old") ||
                pool.contains("Tenured") => use.getUsed }.sum
        }
      }, null, null)
  }

  /** The heap the run leaves live: two full collections, with a pause
    * between them for Spark's ContextCleaner to drop the blocks of
    * frames the first one found unreachable. */
  def retained(): Long = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    Thread.sleep(200)
    afterMajorGc
  }
}

object Main {
  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  /** Move the parquet parts of a finished write into a streaming source
    * directory, each under a unique name, atomically. */
  def publish(staged: String, into: String, tag: String): Seq[String] = {
    Files.createDirectories(Paths.get(into))
    val parts = Files.list(Paths.get(staged)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    parts.zipWithIndex.map { case (p, k) =>
      val name = s"$tag-$k.parquet"
      Files.move(p, Paths.get(into, name), StandardCopyOption.ATOMIC_MOVE)
      name
    }
  }

  def session(cores: Int, run: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "4096")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .getOrCreate()

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val run = Paths.get(arg(args, "rundir")).toAbsolutePath.toString
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val cores = arg(args, "cores").toInt
    val setups = arg(args, "setups").toInt
    val plan = Json.read(s"$run/plan.json")

    val spark = session(cores, run)
    log("session up")
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    val heap = new HeapWatch
    val loop = new Loop(Some(tracer))
    val wl: Workload = workload match {
      case "reportdb" => new ReportDb(spark, plan, run, tracer)
      case "corpus" => new Corpus(spark, plan, run, tracer)
      case "ann" => new Ann(spark, plan, run, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Set-up, several times: each builds the workload's state afresh, and
    // traced runs trace it (that is where an index is fit). The untimed
    // warm-up ops then run once on the last one.
    tracer.active = traced
    val setupS = (0 until setups).map { i =>
      tracer.op = -1 - i
      tracer.parent = s"setup:$i"
      val t0 = System.nanoTime()
      wl.setup(i)
      (System.nanoTime() - t0) / 1e9
    }
    tracer.active = false
    log(s"set-ups done: ${setupS.map(x => f"$x%.2f").mkString(" ")}")
    val w0 = System.nanoTime()
    wl.warmup().foreach(loop.runOp(_, -1, warmup = true, traced = false))
    val warmupS = (System.nanoTime() - w0) / 1e9
    log(f"warm-up done: $warmupS%.2f")
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var c = 0
    // whole cycles, so every run measures the same op mix
    tracer.active = traced
    while (System.nanoTime() < deadline) {
      wl.cycle(c).foreach(loop.runOp(_, c, warmup = false, traced = traced))
      c += 1
    }
    val loopS = (System.nanoTime() - start) / 1e9
    log(f"loop done: $loopS%.2f s, $c cycles")
    tracer.active = false
    wl.close()
    val retained = heap.retained()
    tracer.drain()

    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master"
    }
    val record = Map[String, Any](
      "workload" -> workload,
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "loop_s" -> loopS,
      "cycles" -> c,
      "retained_old_gen_bytes" -> retained,
      "ops" -> loop.records.result(),
      "provenance" -> Map(
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version"),
        "cores" -> cores,
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
        "confs" -> conf)) ++
      (if (traced) Map(
        "streams" -> tracer.streams.get.progress.asScala.toSeq,
        "phases" -> tracer.phaseRecords,
        "totals" -> tracer.totals,
        "rows_scanned" -> tracer.scans.get.scanned.get,
        "rows_written" -> tracer.scans.get.written.get)
      else Map.empty)
    Files.write(Paths.get(run, "run.json"), Json.write(record).getBytes("UTF-8"))
    log("record written")
    spark.stop()
    log("session stopped")
  }
}
