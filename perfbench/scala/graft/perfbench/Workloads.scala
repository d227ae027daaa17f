package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.dedup.Dedup
import graft.ingest.Loader
import graft.model.TestCatalog
import graft.monitor.{Subscription, Subscriptions}
import graft.operators.Rollups
import graft.pack.Pack
import graft.query.PatternQuery
import graft.sim.{Ivf, ModelStore, Pq}
import graft.text.{HeuristicFilters, TextOps}

private object Rows {
  def strings(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(r => r.toSeq.map {
      case null => null
      case d: java.lang.Double => d
      case f: java.lang.Float => f.toDouble
      case b: java.lang.Boolean => b
      case l: java.lang.Long => l
      case i: java.lang.Integer => i.toLong
      case x => x.toString
    })
}

/** kcidb report-DB serving: each cycle one ingest (upsert-merge →
  * ingest closure → rendered notifications → streaming spool) and one
  * read of each kind (children and parents closures, a pattern query,
  * rollups), with seeded roots. Every cycle runs the same kinds, so runs
  * of any cycle count measure the same mix. */
final class ReportDb(spark: SparkSession, plan: JsonNode, run: String,
                     tr: Tracer) extends Workload {
  import spark.implicits._

  val Kinds = Seq("children", "parents", "pattern", "rollup")
  private val catalog = TestCatalog.catalog
  private val db = plan.get("db").asText
  private val subs = plan.get("subs").elements.asScala.toVector
  // reads(k * Kinds.size + j): the roots of kind Kinds(j) in plan cycle k
  private val reads = plan.get("reads").elements.asScala.toVector.map { r =>
    (r.get("kind").asText, r.get("roots").elements.asScala.map(_.asLong).toSeq)
  }
  private var spool = ""
  private var query: StreamingQuery = _

  private val mergeFields = Map(
    "orders" -> Seq("o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
      "l_linestatus", "l_shipdate"))
  private val mergeKeys = Map("orders" -> Seq("o_orderkey"),
    "lineitem" -> Seq("l_orderkey", "l_linenumber"))

  /** The spool's subscriptions; the checks re-derive their ids. */
  val subscriptions = Seq(
    Subscription("failed_big_orders", "orders",
      col("o_orderstatus") === "F" && col("o_totalprice") > 400000,
      Seq("o_orderkey"),
      subject = "Order {o_orderkey} failed ({o_orderpriority})",
      body = "Order {o_orderkey} by customer {o_custkey} failed."),
    Subscription("negative_balance", "customer",
      col("c_acctbal") < -900, Seq("c_custkey"),
      subject = "Customer {c_name} balance went negative",
      body = "Customer {c_custkey} of nation {c_nationkey} is negative."),
    Subscription("returned_full_qty", "lineitem",
      col("l_returnflag") === "R" && col("l_quantity") >= 48,
      Seq("l_orderkey", "l_linenumber"),
      subject = "Full-quantity return on order {l_orderkey}",
      body = "Line {l_linenumber} of part {l_partkey} came back."))

  /** Every type's id tuples, fetched with one action. */
  private def ids(m: Map[String, DataFrame]): Map[String, Seq[String]] = {
    val parts = m.toSeq.sortBy(_._1).map { case (tn, df) =>
      df.select(lit(tn).as("t"), concat_ws("_",
        catalog.types(tn).idCols.map(c => col(c).cast("string")): _*).as("id"))
    }
    val got = parts.reduce(_ union _).collect().groupBy(_.getString(0))
    m.keys.map(tn => tn -> got.getOrElse(tn, Array.empty[Row])
      .map(_.getString(1)).toSeq.sorted).toMap
  }

  def setup(i: Int): Unit = {
    if (query != null) query.stop()
    spool = s"$run/spool$i"
    Files.createDirectories(Paths.get(spool, "in"))
    val src = spark.readStream
      .schema(Encoders.product[Subscriptions.NotifRendered].schema)
      .parquet(s"$spool/in").as[Subscriptions.NotifRendered]
    query = tr.startStream("spool") {
      Subscriptions.dedupRenderedStream(src).writeStream
        .format("parquet")
        .option("checkpointLocation", s"$spool/ckpt")
        .option("path", s"$spool/registered")
        .queryName(s"spool$i")
        .start()
    }
  }

  /** Ingest of submission batch `n` (plan cycle `n`). */
  def ingest(n: Int): Op = {
    val b = subs(n % subs.size)
    val dir = b.get("dir").asText
    val rows = b.get("orders_rows").asLong + b.get("lineitem_rows").asLong
    val out = s"$spool/ingest/c$n"
    Op("write", "ingest", rows, () => {
      val merged = tr.call("ingest.upsert_merge")(
        Seq("orders", "lineitem").map { tn =>
          tn -> Loader.upsertMerge(spark.read.parquet(s"$dir/$tn.parquet"),
            mergeKeys(tn), Seq(col("sub_seq")), mergeFields(tn))
        })(_.map(_._2)) { ms =>
        ms.foreach { case (tn, df) => df.write.parquet(s"$out/$tn.parquet") }
        ms.map { case (tn, _) => tn -> spark.read.parquet(s"$out/$tn.parquet") }
          .toMap
      }
      val closure = tr.call("model.ingest_closure")(
        catalog.ingestClosure(spark, db, merged))(_.values.toSeq)(m => (m, ids(m)))
      val staged = s"$spool/stage/c$n"
      tr.call("monitor.match_rendered")(
        Subscriptions.matchNotificationsRendered(closure._1, subscriptions))(
        Seq(_))(_.write.parquet(staged))
      val files = tr.call("monitor.spool", Some("spool"))(())(_ => Nil) { _ =>
        val f = Main.publish(staged, s"$spool/in", s"c$n")
        query.processAllAvailable()
        f
      }
      () => Map("batch" -> dir, "merged_dir" -> out, "closure" -> closure._2,
        "notif_dir" -> s"$spool/in", "notif_files" -> files,
        "spool" -> spool)
    })
  }

  private def customers(roots: Seq[Long]) =
    Map("customer" -> roots.toDF("c_custkey"))

  /** The read of kind `Kinds(j)` in plan cycle `k`. */
  def read(k: Int, j: Int): Op = {
    val (kind, roots) = reads((k * Kinds.size + j) % reads.size)
    require(kind == Kinds(j), s"read plan out of step: $kind")
    Op("read", kind, roots.size, () => {
      val out: Any = kind match {
        case "children" =>
          tr.call("model.children_closure")(
            catalog.childrenClosure(spark, db, customers(roots)))(
            _.values.toSeq)(ids)
        case "parents" =>
          tr.call("model.parents_closure")(
            catalog.parentsClosure(spark, db,
              Map("orders" -> roots.toDF("o_orderkey"))))(_.values.toSeq)(ids)
        case "pattern" =>
          tr.call("query.pattern")(PatternQuery.run(spark, db, catalog,
            s">part[${roots.mkString(";")}]>lineitem<orders#"))(
            _.values.toSeq)(ids)
        case "rollup" =>
          val m = tr.call("model.children_closure")(
            catalog.childrenClosure(spark, db, customers(roots)))(
            _.values.toSeq)(identity)
          tr.call("operators.rollup")(Seq(
            Rollups.worstStatus(m("lineitem"), Seq("l_orderkey"),
              col("l_returnflag"), Seq("R" -> 0, "A" -> 1, "N" -> 2)),
            Rollups.statusPivot(m("orders"), col("o_orderpriority"),
              "o_orderpriority", col("o_orderstatus"),
              Seq("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))))(identity) {
            case Seq(worst, pivot) => Map(
              "worst" -> Rows.strings(worst.collect()),
              "pivot" -> Rows.strings(pivot.collect()))
          }
      }
      () => Map("roots" -> roots, "result" -> out)
    })
  }

  /** Plan cycle 0 warms up; loop cycle c runs plan cycle c + 1. */
  private def planCycle(k: Int): Seq[Op] =
    ingest(k) +: Kinds.indices.map(read(k, _))
  def warmup(): Seq[Op] = planCycle(0)
  def cycle(c: Int): Seq[Op] = planCycle(c + 1)
  def close(): Unit = if (query != null) query.stop()
}

/** LLM data-prep batch job over a planted-duplicate corpus. A cycle is
  * one job: the dedup half (exact, near-dup, clusters) returns its
  * result to the client and is the cycle's read; the pack half
  * (quality, quota, pack, write) runs once per source shard, each run
  * persisting that shard's packed parquet as one write. Stage outputs
  * are checkpointed between stages. */
final class Corpus(spark: SparkSession, plan: JsonNode, run: String,
                   tr: Tracer) extends Workload {
  val Tau = 0.5
  val MinQuality = 0.5
  val Quota = 100000L
  val SeqLen = 2048L
  val SourcesPerShard = 2
  private val path = plan.get("docs").asText
  private var docs: DataFrame = _
  private var kept: DataFrame = _
  private var nDocs = 0L
  private var shards = Seq.empty[Seq[String]]

  def setup(i: Int): Unit = {
    docs = spark.read.parquet(path).select("doc_id", "text", "source")
    nDocs = docs.count()
    // the quota is per source, so a shard of whole sources packs alone
    shards = docs.select("source").distinct().collect().map(_.getString(0))
      .sorted.toSeq.grouped(SourcesPerShard).toSeq
  }

  def dedup(rows: Long): Op = Op("read", "dedup", rows, () => {
    val exact = tr.call("dedup.exact") {
      val keep = docs.select(col("doc_id"),
          Dedup.fingerprint(col("text")).as("fp"))
        .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      docs.join(keep.select("doc_id"), Seq("doc_id"), "left_semi")
    }(Seq(_))(_.localCheckpoint())
    val pairs = tr.call("dedup.minhash")(
      Dedup.minhashNearDupsAuto(exact, "doc_id", "text", k = 64,
        nBands = 16, threshold = Tau))(Seq(_))(_.localCheckpoint())
    kept = tr.call("dedup.clusters") {
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      // one document per cluster: the one the cluster is labelled by
      exact.join(cc.filter(col("id") =!= col("cluster"))
        .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti")
    }(Seq(_))(_.localCheckpoint())
    () => Map("exact_kept" -> exact.count(),
      "pairs" -> Rows.strings(pairs.orderBy("id_a", "id_b").collect()),
      "kept" -> kept.count())
  })

  def pack(tag: String, sources: Seq[String]): Op = Op("write", "pack", 0, () => {
    val shard = kept.filter(col("source").isin(sources: _*))
    val scored = tr.call("text.quality") {
      val staged = shard.select(col("doc_id"),
        split(regexp_replace(col("text"), "\n", " "), " ").as("__ws"),
        split(col("text"), "\n").as("__ls"))
      val gopher = HeuristicFilters.gopherFilter(staged, "doc_id", "__ws", "__ls")
        .select(col("doc_id"), col("kept").as("gopher_kept"))
      shard.select(col("doc_id"), col("source"),
          TextOps.wordCount(col("text")).cast("long").as("toks"),
          TextOps.qualityScore(col("text")).as("quality"))
        .join(gopher, Seq("doc_id"))
    }(Seq(_))(_.localCheckpoint())
    val packed = tr.call("pack.pack_sequences") {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val admitted = scored
        .filter(col("gopher_kept") === 1 && col("quality") >= MinQuality)
        .withColumn("prior", coalesce(sum(col("toks")).over(w), lit(0L)))
        .filter(col("prior") < Quota)
        .drop("prior", "gopher_kept")
      Pack.packSequences(admitted, "doc_id", col("toks"),
        pmod(col("doc_id"), lit(8)), seqLen = SeqLen)
    }(Seq(_))(_.localCheckpoint())
    val out = s"$run/packed/$tag"
    tr.call("sources.write")(packed)(_ => Nil)(
      _.write.mode("overwrite").parquet(out))
    () => Map("sources" -> sources,
      "scored" -> Rows.strings(scored.orderBy("doc_id").collect()),
      "packed" -> out)
  })

  private def packs(tag: String): Seq[Op] =
    shards.zipWithIndex.map { case (srcs, k) => pack(s"$tag-shard$k", srcs) }

  private def job(tag: String, rows: Long): Seq[Op] =
    dedup(rows) +: packs(tag)

  // a whole job, then its packs once more: a smaller warm-up leaves the
  // first loop job still compiling
  def warmup(): Seq[Op] = job("warmup", 0) ++ packs("warmup-again")

  def cycle(c: Int): Seq[Op] = job(s"job$c", nDocs)

  def close(): Unit = ()
}

/** Vector-index lifecycle: build (fit, save, load) at set-up, then a
  * closed loop alternating streaming admission micro-batches and IVF-PQ
  * kNN probe batches over the growing code table. */
final class Ann(spark: SparkSession, plan: JsonNode, run: String,
                tr: Tracer) extends Workload {
  val M = 16
  val Ksub = 32
  val Cells = 32
  val Nprobe = 8
  val K = 10
  val ProbeId0 = 1000000000L
  private val base = plan.get("base").asText
  private val admits = plan.get("admits").elements.asScala.map(_.asText).toVector
  private val probes = plan.get("probes").elements.asScala.map(_.asText).toVector
  private var dir = ""
  private var model: (DataFrame, DataFrame) = _
  private var query: StreamingQuery = _
  private var admitted = Vector.empty[Int]
  private var nAdmit = 0
  private var nProbe = 0

  private def arrive(file: String, name: String): Unit = {
    val tmp = Paths.get(dir, "arriving", name)
    Files.createDirectories(tmp.getParent)
    Files.copy(Paths.get(file), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(dir, "in", name), StandardCopyOption.ATOMIC_MOVE)
  }

  def setup(i: Int): Unit = {
    if (query != null) query.stop()
    dir = s"$run/index$i"
    admitted = Vector.empty
    Files.createDirectories(Paths.get(dir, "in"))
    val corpus = spark.read.parquet(base).select("vec_id", "embedding")
    model = tr.call("sim.fit")((
      Ivf.fitCentroids(corpus.select(col("vec_id").as("id"),
        col("embedding").as("v")), c = Cells, iters = 1),
      Pq.fitCodebooks(corpus, "vec_id", "embedding", m = M, ksub = Ksub,
        iters = 1)))(
      p => Seq(p._1, p._2)) { case (cents, cbs) =>
      ModelStore.save(cents, "ivf_centroids", s"$dir/model/ivf_centroids")
      ModelStore.save(cbs, "pq_codebooks", s"$dir/model/pq_codebooks")
      (ModelStore.load(spark, "ivf_centroids", s"$dir/model/ivf_centroids"),
        ModelStore.load(spark, "pq_codebooks", s"$dir/model/pq_codebooks"))
    }
    val src = spark.readStream.schema(corpus.schema).parquet(s"$dir/in")
    query = tr.startStream("admit") {
      Pq.admitStateless(src, "vec_id", "embedding", model._1, model._2, M)
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$dir/ckpt")
        .option("path", s"$dir/codes")
        .queryName(s"admit$i")
        .start()
    }
    arrive(base, "base.parquet")
    query.processAllAvailable()
  }

  def admit(): Op = {
    val j = nAdmit
    nAdmit += 1
    Op("write", "admit", plan.get("rows").get("admit_batch").asLong, () => {
      tr.call("sim.admit", Some("admit"))(())(_ => Nil) { _ =>
        arrive(admits(j), f"a$j%04d.parquet")
        query.processAllAvailable()
      }
      admitted :+= j
      val now = admitted
      () => Map("batch" -> j, "admitted" -> now)
    })
  }

  def probe(): Op = {
    val j = nProbe
    nProbe += 1
    Op("read", "query", plan.get("rows").get("probe_batch").asLong, () => {
      val now = admitted
      val res = tr.call("sim.knn") {
        val emb = spark.read.parquet(s"$dir/in").select("vec_id", "embedding")
          .unionByName(spark.read.parquet(probes(j)).select("vec_id", "embedding"))
        Pq.ivfPqKnnFromModel(emb, "vec_id", "embedding", model._1, model._2,
          spark.read.parquet(s"$dir/codes"), probeFilter = col("vec_id") >= ProbeId0,
          k = K, nprobe = Nprobe, m = M, refine = 8)
      }(Seq(_))(_.select("probe_id", "neighbor_id", "rank").collect())
      () => Map("probe_batch" -> j, "admitted" -> now,
        "result" -> Rows.strings(res))
    })
  }

  def warmup(): Seq[Op] = Seq(admit(), probe())
  def cycle(c: Int): Seq[Op] = Seq(admit(), probe())
  def close(): Unit = if (query != null) query.stop()
}
