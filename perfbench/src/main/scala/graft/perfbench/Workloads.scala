package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.core.Tables
import graft.dedup.{Curation, Dedup, Similarity}
import graft.ml.{ClusterStats, TextPipeline}
import graft.ops.{DistQuantile, RangeAgg, Relational}
import graft.streaming.StreamIngest

/** Shared helpers for the workloads' checks and quality metrics. */
object Quality {
  private def comb2(x: Long): Double = x.toDouble * (x - 1) / 2

  /** Adjusted Rand index of two labelings of the same items. */
  def ari(a: Seq[Int], b: Seq[Int]): Double = {
    require(a.length == b.length && a.nonEmpty)
    val cells = a.zip(b).groupBy(identity).values.map(v => comb2(v.size)).sum
    val sa = a.groupBy(identity).values.map(v => comb2(v.size)).sum
    val sb = b.groupBy(identity).values.map(v => comb2(v.size)).sum
    val expected = sa * sb / comb2(a.length)
    val max = (sa + sb) / 2
    if (max == expected) 1.0 else (cells - expected) / (max - expected)
  }

  /** Character 8-gram shingles at stride 4 of the lowercased,
    * whitespace-normalized text: the set Dedup.nearDupPairs hashes. */
  def shingles(text: String): Set[String] = {
    val norm = text.toLowerCase.trim.replaceAll("\\s+", " ")
    val last = math.max(norm.length - 7, 1)
    (0 until last by 4).map(i => norm.substring(i, math.min(i + 8, norm.length))).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains).toDouble
    inter / (a.size + b.size - inter)
  }

  /** (name, ok, detail) of a set-equality check. */
  def sameSet[T](name: String, actual: Iterable[T], expected: Iterable[T]): (String, Boolean, String) = {
    val a = actual.toSet; val e = expected.toSet
    (name, a == e, s"actual ${a.size}, expected ${e.size}, missing ${(e -- a).size}, extra ${(a -- e).size}")
  }

  /** Set equality, and no item emitted twice. */
  def eachOnce[T](name: String, actual: Seq[T], expected: Iterable[T]): (String, Boolean, String) = {
    val (n, ok, d) = sameSet(name, actual, expected)
    (n, ok && actual.distinct.length == actual.length, s"$d, emitted ${actual.length}")
  }
}

/** The paper's own job: the word2vec → kNN/Kneedle ε → DBSCAN flagship and
  * the TF-IDF → K-Means pipeline on an FTS-style corpus. */
final class ClusterErrors(spark: SparkSession, env: Env) extends Runner {
  private val dir = s"${env.data}/fts"
  private val t = env.trace
  // the reference TF-IDF run's cluster count (BASELINE.md)
  private val K = 10
  private val nRows = Tables.table(spark, dir, "docs").count()
  private var labels: DataFrame = _
  private var tfidf: DataFrame = _

  def job(iter: Int): Long = {
    val docs = t.span("core.Tables")(Tables.table(spark, dir, "docs"))
    // pinned the way SparkEntry.pinnedDocs pins the flagship's input
    val pinned = docs.select("doc_id", "text")
      .repartition(8, col("doc_id")).sortWithinPartitions("doc_id")
    labels = t.span("pipeline")(graft.SparkEntry.flagshipLabels(pinned))
    t.forced("ml.ClusterStats")(ClusterStats.stats(labels, "label", "text", "doc_id"))
    // cleaned first, as the reference pipeline does (clean → blank filter → TF-IDF)
    val cleaned = docs.withColumn("text", graft.text.Clean.cleanMessage(col("text")))
    tfidf = t.span("ml.TextPipeline")(
      TextPipeline.clusterDocuments(cleaned, "text", K, nInit = 1))
    nRows
  }

  private lazy val truth: Map[Long, Int] =
    spark.read.parquet(s"$dir/truth.parquet").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
  private lazy val w2v = labels.select(col("doc_id"), col("label").cast("int"))
    .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
  private lazy val km = tfidf.select(col("doc_id"), col("cluster").cast("int"))
    .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq

  def checks(): Seq[(String, Boolean, String)] = {
    val nonBlank = truth.collect { case (id, t) if t >= 0 => id }
    Seq(Quality.eachOnce("w2v_labels_each_nonblank_once", w2v.map(_._1), nonBlank),
      Quality.eachOnce("tfidf_labels_each_nonblank_once", km.map(_._1), nonBlank))
  }

  override def quality(): Seq[(String, Double)] = {
    def ari(got: Seq[(Long, Int)]) = Quality.ari(got.map(_._2), got.map(p => truth(p._1)))
    Seq("cluster_ari_w2v" -> ari(w2v), "cluster_ari_tfidf" -> ari(km))
  }
}

/** Training-data curation: exact dedup, MinHash near-dup pairs → groups,
  * semantic dedup and a batch of ANN queries. */
final class CurateCorpus(spark: SparkSession, env: Env) extends Runner {
  private val dir = s"${env.data}/curate"
  private val t = env.trace
  private val K = 10
  private val nRows = Seq("docs", "vecs", "queries")
    .map(n => Tables.table(spark, dir, n).count()).sum
  private var keepers: DataFrame = _
  private var pairs: DataFrame = _
  private var groups: DataFrame = _
  private var semGroups: DataFrame = _
  private var ann: Array[Row] = _

  def job(iter: Int): Long = {
    if (pairs != null) pairs.unpersist(blocking = true)
    val (docs, vecs, queries) = t.span("core.Tables")((
      Tables.table(spark, dir, "docs"), Tables.table(spark, dir, "vecs"),
      Tables.table(spark, dir, "queries")))
    keepers = t.forced("dedup.Dedup")(Dedup.exactDedupKeepers(docs, "doc_id", "text"))
    pairs = t.span("dedup.Dedup") {
      val p = Dedup.nearDupPairs(docs, "doc_id", "text").cache()
      Trace.force(p); p
    }
    groups = t.forced("dedup.Curation")(
      Curation.dupGroups(docs.select("doc_id"), pairs, "doc_id"))
    semGroups = t.forced("dedup.Similarity")(
      Similarity.semanticDedup(vecs, "doc_id", "vec"))
    ann = t.span("dedup.Similarity")(Similarity.annTopKBatch(vecs, "doc_id", "vec",
      queries.select(col("query_id").as("doc_id"), col("vec")), K).collect())
    nRows
  }

  private lazy val texts: Map[Long, String] =
    spark.read.parquet(s"$dir/docs.parquet").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
  private lazy val found: Seq[(Long, Long, Double)] =
    pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  private lazy val truthNear: Set[(Long, Long)] =
    spark.read.parquet(s"$dir/truth_near.parquet").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  def checks(): Seq[(String, Boolean, String)] = {
    val expectedKeepers = spark.read.parquet(s"$dir/truth_exact.parquet").collect()
      .groupBy(_.getLong(1)).map { case (g, rs) => (g, rs.length.toLong) }
    val keep = Quality.sameSet("exact_keepers_equal_planted_groups",
      keepers.select("keep_id", "dup_cnt").collect().map(r => (r.getLong(0), r.getLong(1))),
      expectedKeepers)
    val bad = found.filter { case (a, b, j) =>
      val exact = Quality.jaccard(Quality.shingles(texts(a)), Quality.shingles(texts(b)))
      exact < 0.8 || math.abs(exact - j) > 1e-9
    }
    val threshold = ("near_dup_pairs_meet_jaccard_threshold", bad.isEmpty,
      s"${found.length} pairs, ${bad.length} below 0.8 or misreported")
    def coverOnce(name: String, df: DataFrame) =
      Quality.eachOnce(name, df.select("doc_id").collect().map(_.getLong(0)).toSeq, texts.keys)
    val perQuery = ann.groupBy(_.getLong(0)).values.map(_.length)
    Seq(keep, threshold, coverOnce("dup_groups_cover_each_doc_once", groups),
      coverOnce("semantic_groups_cover_each_doc_once", semGroups),
      ("ann_at_most_k_per_query", perQuery.nonEmpty && perQuery.forall(_ <= K),
        s"${perQuery.size} queries answered"))
  }

  override def quality(): Seq[(String, Double)] = {
    val got = found.map(p => (p._1, p._2)).toSet
    val hit = (got & truthNear).size.toDouble
    val queries = spark.read.parquet(s"$dir/queries.parquet").orderBy("query_id")
      .limit(16).collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    val vecs = spark.read.parquet(s"$dir/vecs.parquet")
    val annBy = ann.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val recall = queries.map { case (q, v) =>
      val exact = Similarity.bruteForceTopK(vecs, "doc_id", "vec", v, K)
        .collect().map(_.getLong(0)).toSet
      (annBy.getOrElse(q, Set.empty[Long]) & exact).size.toDouble / K
    }
    Seq("neardup_recall" -> hit / math.max(truthNear.size, 1),
      "neardup_precision" -> hit / math.max(got.size, 1),
      "ann_recall_at_10" -> recall.sum / recall.length)
  }

  /** Pairs scored vs kept in semanticDedup's cell self-join. The optimizer
    * folds both pair filters into the join condition, so the join's
    * numOutputRows counts kept pairs only; the scored count comes from the
    * same (seeded) cell assignment. */
  override def traceExtras(): Seq[(String, Double)] = {
    val vecs = Tables.table(spark, dir, "vecs")
    val (assigned, kept) = Similarity.semanticDedupPairs(vecs, "doc_id", "vec",
      16, 0.95, 100000L, 100000, 42L)
    val scored = assigned.groupBy("_cell").count().collect()
      .map(r => r.getLong(1).toDouble * (r.getLong(1) - 1) / 2).sum
    val k = kept.count().toDouble
    assigned.unpersist()
    Seq("semdup.pairs_scored" -> scored, "semdup.pairs_kept" -> k,
      "ann.k_queries" -> K.toDouble * Tables.table(spark, dir, "queries").count())
  }

  override def close(): Unit = if (pairs != null) pairs.unpersist()
}

/** A closed loop with one client: drop one JSON-lines file of error events
  * into a watched directory, then wait until every query has processed it. */
final class StreamErrors(spark: SparkSession, env: Env) extends Runner {
  private val src = s"${env.data}/stream"
  private val in = s"${env.work}/in"
  private val staging = s"${env.work}/staging"
  private val t = env.trace
  private val files = Files.list(Paths.get(src)).iterator().asScala
    .map(_.getFileName.toString).filter(_.endsWith(".jsonl")).toSeq.sorted
  private val landed = mutable.ArrayBuffer.empty[String]
  private val Failed = Seq("transfer-failed", "deletion-failed")
  private val schema = StructType(Seq(
    StructField("seq", LongType), StructField("event_id", StringType),
    StructField("event_type", StringType), StructField("ts", TimestampType),
    StructField("src_rse", StringType), StructField("dst_rse", StringType),
    StructField("reason", StringType)))

  private val counts = new ConcurrentHashMap[(String, String), Long]()
  private val keys = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val hits = new ConcurrentHashMap[Long, Long]()
  Files.createDirectories(Paths.get(in))
  Files.createDirectories(Paths.get(staging))

  private val queries: Seq[StreamingQuery] = {
    val errs = StreamIngest.errorEvents(
      StreamIngest.readJsonStream(spark, in, schema), "event_type", Failed)
    def sink[T](name: String, ds: Dataset[T], mode: String)(f: Dataset[T] => Unit) =
      ds.writeStream.queryName(name).outputMode(mode)
        .option("checkpointLocation", s"${env.work}/ckpt/$name")
        .foreachBatch((b: Dataset[T], _: Long) => f(b)).start()
    Seq(
      sink("windowed_counts", StreamIngest.windowedCounts(errs, "ts", "dst_rse"), "update") { b =>
        b.select(col("window.start").cast("string"), col("dst_rse"), col("cnt")).collect()
          .foreach(r => counts.put((r.getString(0), r.getString(1)), r.getLong(2)))
      },
      sink("dedup", StreamIngest.streamingDedup(errs.withWatermark("ts", "2 hours"),
          Seq("event_id"), withinWatermark = true), "append") { b =>
        b.collect().foreach(r => keys.add(r.getString(0)))
      },
      sink("near_dup", StreamIngest.streamingNearDup(errs, "seq", "reason"), "append") { b =>
        // one hit per band bucket the doc matched in; keep the lowest match
        b.collect().foreach(h => hits.merge(h.id, h.matchId, (x: Long, y: Long) => math.min(x, y)))
      })
  }

  private var next = 0
  land()

  /** Drops the next batch file into the watched directory and waits until
    * every query has processed it; returns the events it held. */
  private def land(): Long = {
    if (next >= files.length) throw new IllegalStateException("out of input batch files")
    val name = files(next)
    next += 1
    val from = Paths.get(src, name)
    Files.copy(from, Paths.get(staging, name), StandardCopyOption.REPLACE_EXISTING)
    t.span("streaming.StreamIngest") {
      Files.move(Paths.get(staging, name), Paths.get(in, name), StandardCopyOption.ATOMIC_MOVE)
      queries.foreach(_.processAllAvailable())
    }
    landed += from.toString
    Files.lines(from).count()
  }

  override def minJobs: Int = 8
  def job(iter: Int): Long = land()

  def checks(): Seq[(String, Boolean, String)] = {
    queries.foreach(_.stop())
    val late = spark.read.parquet(s"$src/truth_late.parquet").collect().map(_.getLong(0)).toSet
    val all = spark.read.schema(schema).json(landed.toSeq: _*)
      .filter(col("event_type").isin(Failed: _*)).cache()
    val onTime = all.filter(!col("seq").isin(late.toSeq: _*))
    val expectedCounts = onTime.groupBy(window(col("ts"), "1 hour"), col("dst_rse")).count()
      .select(col("window.start").cast("string"), col("dst_rse"), col("count")).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    val onTimeIds = onTime.select("event_id").collect().map(_.getString(0))
    val pairs = Dedup.nearDupPairs(all, "seq", "reason").collect()
      .groupBy(_.getLong(1)).map { case (b, rs) => b -> rs.map(_.getLong(0)).min }
    all.unpersist()
    Seq(Quality.sameSet("windowed_counts_equal_batch_recount", counts.asScala, expectedCounts),
      Quality.eachOnce("dedup_keys_equal_batch_distinct", keys.asScala.toSeq, onTimeIds),
      Quality.sameSet("near_dup_hits_equal_batch_pairs", hits.asScala, pairs))
  }

  override def close(): Unit = queries.foreach(q => if (q.isActive) q.stop())
}

/** The reference's Rucio ingestion and EDA step on an event log. */
final class EventAnalytics(spark: SparkSession, env: Env) extends Runner {
  private val dir = s"${env.data}/events"
  private val t = env.trace
  private val Failed = Seq("transfer-failed", "deletion-failed")
  private val nRows = Tables.table(spark, dir, "rucio_events").count()
  private var errorCount = 0L
  private var crosstab: DataFrame = _
  private var quartiles: Row = _
  private var top: Array[Row] = _

  private def transfers(): DataFrame =
    Tables.table(spark, dir, "rucio_events").filter(col("event_type").startsWith("transfer"))
      .select("event_id", "src_rse", "started_at", "ended_at")

  private def overlap(): DataFrame =
    RangeAgg.keyedIntervalOverlapAgg(transfers(), "event_id", "src_rse",
      "started_at", "ended_at", transfers(), "src_rse", "started_at", "ended_at")

  private def reasonCounts(ev: DataFrame): DataFrame =
    ev.filter(col("event_type").isin(Failed: _*))
      .groupBy("src_rse", "reason").agg(count(lit(1)).as("cnt"))

  def job(iter: Int): Long = {
    val ev = t.span("core.Tables") {
      val e = Tables.table(spark, dir, "rucio_events")
      errorCount = e.filter(col("event_type").isin(Failed: _*)).count()
      e
    }
    crosstab = t.forced("ops.Relational")(Relational.crosstabDiscover(ev, "src_rse", "dst_rse"))
    t.forced("ops.Relational")(
      Relational.describeAll(ev, Seq("bytes", "duration", "src_rse", "event_type")))
    quartiles = t.span("ops.DistQuantile")(DistQuantile.quantiles(spark, ev, "duration").head())
    t.forced("ops.RangeAgg")(overlap())
    top = t.span("ops.Relational")(Relational.topNPerGroup(reasonCounts(ev), "src_rse",
      desc("cnt"), col("reason"), 3).collect())
    nRows
  }

  def checks(): Seq[(String, Boolean, String)] = {
    val ev = Tables.table(spark, dir, "rucio_events")
    // range: the overlap counts of a sample of transfers against a plain join
    val sample = transfers().filter(col("event_id") % 997 === 0).select("event_id").collect()
      .map(_.getLong(0)).toSeq
    val got = overlap().filter(col("event_id").isin(sample: _*)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = transfers().filter(col("event_id").isin(sample: _*)).as("a")
    val b = transfers().as("b")
    val joined = a.join(b, col("a.src_rse") === col("b.src_rse") &&
        col("a.started_at") <= col("b.ended_at") && col("b.started_at") <= col("a.ended_at"))
      .groupBy(col("a.event_id")).count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // top-N: the per-site ranking recomputed on the driver
    val expectedTop = reasonCounts(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1).values.flatMap(_.sortBy(x => (-x._3, x._2)).take(3))
    val gotTop = top.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // quartiles: exact interpolated percentiles of the collected column
    val d = ev.select("duration").collect().map(_.getDouble(0)).sorted
    def pct(p: Double) = {
      val i = p * (d.length - 1); val lo = d(math.floor(i).toInt); val hi = d(math.ceil(i).toInt)
      math.round((lo + (hi - lo) * (i - math.floor(i))) * 1e6) / 1e6
    }
    val q = Seq(0.25, 0.5, 0.75).map(pct)
    val gotQ = (0 until 3).map(quartiles.getDouble)
    val cells = crosstab.collect().map(r => (1 until r.length).map(r.getLong).sum).sum
    val errs = spark.read.parquet(s"$dir/truth.parquet").head().getLong(0)
    Seq(Quality.sameSet("overlap_counts_equal_plain_join", got, joined),
      Quality.sameSet("top_reasons_equal_window_recount", gotTop, expectedTop),
      ("quartiles_equal_sorted_column", q.zip(gotQ).forall { case (x, y) => math.abs(x - y) < 1e-6 },
        s"expected $q, got $gotQ"),
      ("crosstab_cells_sum_to_rows", cells == nRows, s"$cells of $nRows"),
      ("error_count_equals_planted", errs == errorCount, s"$errorCount vs $errs"))
  }
}

