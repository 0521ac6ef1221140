package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.blocking.Blockers
import graft.clustering.Clusterers
import graft.dedup.Dedup
import graft.functions.sims
import graft.fusion.Fusion
import graft.io.{Loaders, Sinks}
import graft.matching.Matching
import graft.normalization.Transforms
import graft.text.TextOps

/** What one run works with: the session, the generated inputs (`in`), a
  * scratch directory for outputs and state (`work`) and the tracer. */
final case class Ctx(spark: SparkSession, in: String, work: String, tr: Tracer)

final case class Quality(clusterF1: Double, fusedAcc: Double)

/** A benchmark workload. An iteration reads the generated input files,
  * writes its result under `out`, reads the result back and checks it,
  * and returns the result's digest. */
trait Workload {
  def name: String
  def params: Gen.Params
  /** Writes the inputs and gold under `in`; returns the input records
    * one iteration reads. */
  def generate(spark: SparkSession, in: String, seed: Long): Long
  /** Set-up beyond writing the inputs. */
  def prepare(ctx: Ctx): Unit = ()
  def maxIterations(ctx: Ctx): Int = Int.MaxValue
  /** True when every iteration must give the same digest. */
  def repeatable: Boolean = true
  def iterate(ctx: Ctx, i: Int, out: String): String
  /** Quality of a written result against gold. */
  def quality(ctx: Ctx, out: String): Quality
  /** Checks after the last iteration; returns the final quality when the
    * workload measures it there rather than per result. */
  def finish(ctx: Ctx): Option[Quality] = None
  /** Lowest acceptable quality under the generator's noise model. */
  def floors: Quality
}

object Workloads {
  val all: Seq[Workload] = Seq(TwoSource, MultiSource, CorpusDedup, Incremental)
  def byName(n: String): Option[Workload] = all.find(_.name == n)
}

/** Shared result handling: digests, read-back, gold metrics. */
object Out {
  /** Order-independent digest of a frame: row count and the xor of
    * xxhash64 over every column (the graft Bench idiom). */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => s"`$c`").mkString(",")
    val r = df.agg(count(lit(1)), expr(s"bit_xor(xxhash64($cols))")).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }

  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  def bytesUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    walk(new File(path))
  }

  /** Pairwise F1 of predicted clusters against gold entities, over the
    * gold records. Records with no predicted cluster are singletons. */
  def pairF1(pred: Map[Long, Long], gold: Map[Long, Long]): Double = {
    def pairs(n: Int): Long = n.toLong * (n - 1) / 2
    val recs = gold.keys.toSeq
    val cl = (r: Long) => pred.getOrElse(r, -r - 1)
    val p = recs.groupBy(cl).values.map(g => pairs(g.size)).sum
    val g = recs.groupBy(gold).values.map(x => pairs(x.size)).sum
    val tp = recs.groupBy(r => (cl(r), gold(r))).values.map(x => pairs(x.size)).sum
    if (p + g == 0) 1.0 else 2.0 * tp / (p + g)
  }

  def longMap(df: DataFrame, k: String, v: String): Map[Long, Long] =
    df.select(col(k).cast("long"), col(v).cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
}

/** Entity-matching pieces shared by the em_* workloads. */
object Em {
  /** Gold pairs kept by `cand` and gold pairs in total; and true matches
    * among `matches`. Traced runs only: benchmark-side joins, outside
    * every layer span. */
  def pairCounts(tr: Tracer, cand: DataFrame, matches: DataFrame, goldPairs: => DataFrame): Unit =
    if (tr.enabled) {
      def norm(df: DataFrame) = df.select(least(col("id1"), col("id2")).as("a"),
        greatest(col("id1"), col("id2")).as("b")).distinct()
      val gp = norm(goldPairs)
      tr.count("blocking.gold_kept")(norm(cand).join(gp, Seq("a", "b")).count().toDouble)
      tr.count("blocking.gold_total")(gp.count().toDouble)
      tr.count("matching.true")(norm(matches).join(gp, Seq("a", "b")).count().toDouble)
      tr.count("matching.predicted")(matches.count().toDouble)
    }

  def clusterCounts(tr: Tracer, labels: DataFrame): Unit =
    if (tr.enabled) {
      val r = labels.groupBy("cluster").agg(count(lit(1)).as("n"))
        .agg(count(lit(1)), max("n")).head()
      tr.count("clustering.clusters")(r.getLong(0).toDouble)
      tr.count("clustering.max_cluster")(if (r.isNullAt(1)) 0.0 else r.getLong(1).toDouble)
    }

  /** Gold match pairs of the multi-source shape: same entity. */
  def sameEntityPairs(gold: DataFrame): DataFrame =
    gold.as("x").join(gold.as("y"), col("x.entity") === col("y.entity") && col("x.rid") < col("y.rid"))
      .select(col("x.rid").as("id1"), col("y.rid").as("id2"))
}

// ==========================================================================
// em_two_source
// ==========================================================================

object TwoSource extends Workload {
  val name = "em_two_source"
  def params: Gen.Params = Gen.TwoSource.params
  def generate(spark: SparkSession, in: String, seed: Long): Long = Gen.TwoSource.write(spark, in, seed)
  // Matches lose at most the region-null share (2%) to blocking and the
  // two-edit name/city cases to the threshold; 0.85 leaves room for both.
  val floors = Quality(0.85, 0.6)

  val threshold = 0.6
  def comparators: Seq[(Column, Double)] = Seq(
    sims.jaroWinkler(col("l_name"), col("r_name")) -> 0.35,
    sims.tokensetJaccard(col("l_name"), col("r_name")) -> 0.25,
    sims.levenshteinSim(coalesce(col("l_city"), lit("")), coalesce(col("r_city"), lit(""))) -> 0.2,
    sims.numericAbsSim(col("l_employees"), col("r_employees"), 2000.0) -> 0.2)

  private def load(ctx: Ctx, side: String): DataFrame = ctx.tr.df("io") {
    val p = s"${ctx.in}/$side.parquet"
    Loaders.withProvenance(Loaders.load(ctx.spark, p), side, "key", p)
  }

  private def normalize(ctx: Ctx, df: DataFrame): DataFrame = ctx.tr.df("normalization") {
    Transforms.applyChains(df, Seq(
      "name" -> Seq("strip", "lower", "normalize_whitespace"),
      "city" -> Seq("strip", "lower"),
      "employees" -> Seq("to_numeric")))
      .select("key", "name", "city", "region", "employees", "__dataset_name")
  }

  def iterate(ctx: Ctx, i: Int, out: String): String = {
    val tr = ctx.tr
    val a = normalize(ctx, load(ctx, "a"))
    val b = normalize(ctx, load(ctx, "b"))
    val cand = tr.df("blocking") { Blockers.standard(a, b, Seq("region"), "key") }
    val matches = tr.df("matching") { Matching.ruleMatch(cand, a, b, "key", comparators, threshold) }
    Em.pairCounts(tr, cand, matches, Out.read(ctx.spark, s"${ctx.in}/gold_pairs.parquet")
      .select(col("a_key").as("id1"), col("b_key").as("id2")))
    val labels = tr.df("clustering") { Clusterers.connectedComponents(matches) }
    Em.clusterCounts(tr, labels)
    val fused = tr.df("fusion") {
      val records = a.unionByName(b)
        .join(labels.withColumnRenamed("id", "key"), Seq("key"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("key")))
      Fusion.runEngine(records, "cluster", Seq("name" -> "longest_string", "city" -> "voting",
        "employees" -> "maximum"))
    }
    tr.count("fusion.clusters_fused")(fused.count().toDouble)
    tr.run("io") {
      Sinks.writePartitioned(fused, s"$out/fused.parquet", Nil)
      Sinks.writePartitioned(labels, s"$out/labels.parquet", Nil)
    }
    tr.count("io.bytes_written")(Out.bytesUnder(out).toDouble)
    Out.digest(Out.read(ctx.spark, s"$out/fused.parquet")) + "/" +
      Out.digest(Out.read(ctx.spark, s"$out/labels.parquet"))
  }

  def quality(ctx: Ctx, out: String): Quality = {
    val spark = ctx.spark
    val truth = Out.read(spark, s"${ctx.in}/truth.parquet").collect()
    val goldPairs = Out.longMap(Out.read(spark, s"${ctx.in}/gold_pairs.parquet"), "b_key", "a_key")
    // gold entity per record: A keys are entity ids; matched B keys map
    // to their A key; B-only records are their own entity
    val gold: Map[Long, Long] = truth.map { r =>
      val anchor = r.getLong(1)
      anchor -> (if (r.getLong(0) >= 0) r.getLong(0) else anchor)
    }.toMap ++ goldPairs
    val pred = Out.longMap(Out.read(spark, s"$out/labels.parquet"), "id", "cluster")
    val fused = Out.read(spark, s"$out/fused.parquet").collect()
      .map(r => r.getAs[Long]("cluster") -> r).toMap
    val hits = truth.toSeq.flatMap { t =>
      val anchor = t.getLong(1)
      val f = fused(pred.getOrElse(anchor, anchor))
      Seq(f.getAs[String]("name") == t.getString(2), f.getAs[String]("city") == t.getString(3),
        Option(f.getAs[java.lang.Double]("employees")).exists(_.doubleValue == t.getLong(4).toDouble))
    }
    Quality(Out.pairF1(pred, gold), hits.count(identity).toDouble / hits.size)
  }
}

// ==========================================================================
// em_multi_source, and the integration em_incremental starts from
// ==========================================================================

object MultiSource extends Workload {
  val name = "em_multi_source"
  def params: Gen.Params = Gen.MultiSource.params
  def generate(spark: SparkSession, in: String, seed: Long): Long = Gen.MultiSource.write(spark, in, seed)
  // 3% of codes are corrupted (those records can only join through a
  // chain), and a fifth of values per attribute are noisy but outvoted.
  val floors = Quality(0.85, 0.75)

  val threshold = 0.6
  def comparators: Seq[(Column, Double)] = Seq(
    sims.jaroWinkler(col("l_name"), col("r_name")) -> 0.4,
    sims.tokensetJaccard(col("l_description"), col("r_description")) -> 0.3,
    sims.numericAbsSim(col("l_price"), col("r_price"), 50.0) -> 0.15,
    sims.dateSim(col("l_updated"), col("r_updated"), 400.0) -> 0.15)

  val strategies: Seq[(String, String)] = Seq("status" -> "voting",
    "description" -> "longest_string", "price" -> "average", "updated" -> "most_recent")
  val sourcePrefs: Seq[String] = Seq("src0", "src1", "src2")

  def load(ctx: Ctx, path: String): DataFrame = ctx.tr.df("io") {
    Loaders.withProvenance(Loaders.load(ctx.spark, path), "ms", "rid", path)
  }

  def normalize(ctx: Ctx, df: DataFrame): DataFrame = ctx.tr.df("normalization") {
    Transforms.applyChains(df, Seq(
      "name" -> Seq("strip", "lower", "normalize_whitespace"),
      "status" -> Seq("strip", "lower"),
      "description" -> Seq("strip", "lower", "normalize_whitespace"),
      "code" -> Seq("strip")))
      .select("rid", "source", "name", "code", "status", "description", "price", "updated", "tags")
  }

  /** Fused record per cluster: the strategy table, the union of the
    * list attribute, and the name from the preferred sources. */
  def fuse(records: DataFrame): DataFrame = {
    val core = Fusion.runEngine(records, "cluster", strategies)
    val tags = Fusion.listResolvers(records, "cluster", col("tags"))
      .select(col("cluster"), col("union_list").as("tags"))
    val name = Fusion.favourSources(records, "cluster", "name", "source", sourcePrefs)
    core.join(tags, Seq("cluster"), "left").join(name, Seq("cluster"), "left")
  }

  /** Every record with its cluster (singletons are their own cluster). */
  def clustered(records: DataFrame, labels: DataFrame): DataFrame =
    records.join(labels.withColumnRenamed("id", "rid"), Seq("rid"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("rid")))

  /** Block, match, cluster: (rid, cluster) for every record. */
  def integrate(ctx: Ctx, recs: DataFrame, goldPath: String): DataFrame = {
    val tr = ctx.tr
    val cand = tr.df("blocking") {
      Blockers.standard(recs, recs, Seq("code"), "rid").filter(col("id1") < col("id2"))
    }
    val matches = tr.df("matching") { Matching.ruleMatch(cand, recs, recs, "rid", comparators, threshold) }
    Em.pairCounts(tr, cand, matches, Em.sameEntityPairs(Out.read(ctx.spark, goldPath)))
    val labels = tr.df("clustering") { Clusterers.connectedComponents(matches) }
    Em.clusterCounts(tr, labels)
    labels
  }

  def iterate(ctx: Ctx, i: Int, out: String): String = {
    val tr = ctx.tr
    val recs = normalize(ctx, load(ctx, s"${ctx.in}/records.parquet"))
    val labels = integrate(ctx, recs, s"${ctx.in}/gold.parquet")
    val all = clustered(recs, labels)
    val fused = tr.df("fusion") { fuse(all) }
    tr.count("fusion.clusters_fused")(fused.count().toDouble)
    val prov = tr.df("fusion") {
      Fusion.provenance(all, "cluster", "source", strategies.filterNot(_._2 == "average"))
    }
    tr.run("io") {
      Sinks.writePartitioned(fused, s"$out/fused.parquet", Nil)
      Sinks.writePartitioned(prov, s"$out/provenance.parquet", Nil)
      Sinks.writePartitioned(all.select("rid", "cluster"), s"$out/labels.parquet", Nil)
    }
    tr.count("io.bytes_written")(Out.bytesUnder(out).toDouble)
    Seq("fused", "provenance", "labels")
      .map(t => Out.digest(Out.read(ctx.spark, s"$out/$t.parquet"))).mkString("/")
  }

  /** Pairwise F1 and fused accuracy of (rid, cluster) labels and fused
    * rows against the generator's gold. Numbers match within 1%
    * (average over noisy prices), lists as sets, the rest exactly. */
  def score(spark: SparkSession, in: String, labels: DataFrame, fused: DataFrame): Quality = {
    val pred = Out.longMap(labels, "rid", "cluster")
    val gold = Out.longMap(Out.read(spark, s"$in/gold.parquet"), "rid", "entity")
      .filter { case (r, _) => pred.contains(r) }
    val byCluster = fused.collect().map(r => r.getAs[Long]("cluster") -> r).toMap
    // each entity's fused row is its lowest record's cluster
    val anchor = gold.groupBy(_._2).map { case (e, rs) => e -> pred(rs.keys.min) }
    val truth = Out.read(spark, s"$in/truth.parquet").collect()
      .filter(t => anchor.contains(t.getLong(0)))
    val hits = truth.toSeq.flatMap { t =>
      val f = byCluster(anchor(t.getLong(0)))
      val price = Option(f.getAs[java.lang.Double]("price")).map(_.doubleValue)
      Seq(f.getAs[String]("name") == t.getString(1), f.getAs[String]("status") == t.getString(2),
        f.getAs[String]("description") == t.getString(3),
        price.exists(p => math.abs(p - t.getDouble(4)) <= 0.01 * t.getDouble(4)),
        f.getAs[java.sql.Date]("updated") == t.getDate(5),
        Option(f.getAs[String]("tags")).getOrElse("") == t.getSeq[String](6).sorted.mkString(","))
    }
    Quality(Out.pairF1(pred, gold), hits.count(identity).toDouble / hits.size)
  }

  def quality(ctx: Ctx, out: String): Quality =
    score(ctx.spark, ctx.in, Out.read(ctx.spark, s"$out/labels.parquet"),
      Out.read(ctx.spark, s"$out/fused.parquet"))
}

// ==========================================================================
// em_incremental
// ==========================================================================

/** Stored state lives under `work/state` as three parquet tables, each
  * partitioned by `ver` (0 = the base, i+1 = delta i): `records` (every
  * normalized record), `labels` (rid, cluster) and `fused` (one row per
  * cluster, `alive` false once the cluster merged into another). A
  * delta writes only new partitions; the current view of a table is the
  * latest version of each key. */
object Incremental extends Workload {
  val name = "em_incremental"
  def params: Gen.Params = Gen.Incremental.params
  def generate(spark: SparkSession, in: String, seed: Long): Long = Gen.Incremental.write(spark, in, seed)
  val floors: Quality = MultiSource.floors
  override def repeatable = false
  override def maxIterations(ctx: Ctx): Int = Gen.Incremental.deltaCount(ctx.in)

  private def state(ctx: Ctx) = s"${ctx.work}/state"
  private def part(ctx: Ctx, table: String, ver: Int) = s"${state(ctx)}/$table.parquet/ver=$ver"
  private def deltaPath(ctx: Ctx, i: Int) = f"${ctx.in}/deltas/$i%03d.parquet"

  /** Latest row per key of a versioned table. */
  private def current(df: DataFrame, key: String): DataFrame = {
    val cols = df.columns.filterNot(c => c == key || c == "ver")
    df.groupBy(col(key))
      .agg(max_by(struct(cols.map(col).toIndexedSeq: _*), col("ver")).as("_v"))
      .select(col(key) +: cols.map(c => col(s"_v.$c")).toIndexedSeq: _*)
  }

  private def currentLabels(ctx: Ctx): DataFrame =
    current(Loaders.load(ctx.spark, s"${state(ctx)}/labels.parquet"), "rid")

  private def currentFused(ctx: Ctx): DataFrame =
    current(Loaders.load(ctx.spark, s"${state(ctx)}/fused.parquet"), "cluster")
      .filter(col("alive")).drop("alive")

  private def fullIntegration(ctx: Ctx, recs: DataFrame): (DataFrame, DataFrame) = {
    val labels = MultiSource.integrate(ctx, recs, s"${ctx.in}/gold.parquet")
    val all = MultiSource.clustered(recs, labels)
    (all.select("rid", "cluster"), MultiSource.fuse(all))
  }

  /** Integrates the base and stores it as version 0. */
  override def prepare(ctx: Ctx): Unit = {
    Gen.deleteTree(new File(state(ctx)))
    val recs = MultiSource.normalize(ctx, MultiSource.load(ctx, s"${ctx.in}/base.parquet"))
    Sinks.writePartitioned(recs, part(ctx, "records", 0), Nil)
    val stored = Loaders.load(ctx.spark, s"${state(ctx)}/records.parquet").drop("ver")
    val (labels, fused) = fullIntegration(ctx, stored)
    Sinks.writePartitioned(labels, part(ctx, "labels", 0), Nil)
    Sinks.writePartitioned(fused.withColumn("alive", lit(true)), part(ctx, "fused", 0), Nil)
  }

  /** Delta i: block it against the stored records, match, contract the
    * matches to stored roots, cluster the arrival graph, re-fuse the
    * affected clusters and write the changed rows as version i+1. */
  def iterate(ctx: Ctx, i: Int, out: String): String = {
    val tr = ctx.tr
    val ver = i + 1
    val delta = MultiSource.normalize(ctx, MultiSource.load(ctx, deltaPath(ctx, i)))
    val stored = tr.df("io") { Loaders.load(ctx.spark, s"${state(ctx)}/records.parquet").drop("ver") }
    val labels = tr.df("io") { currentLabels(ctx) }
    val pool = stored.unionByName(delta)
    val cand = tr.df("blocking") {
      Blockers.standard(delta, stored, Seq("code"), "rid")
        .unionByName(Blockers.standard(delta, delta, Seq("code"), "rid").filter(col("id1") < col("id2")))
    }
    val matches = tr.df("matching") {
      Matching.ruleMatch(cand, delta, pool, "rid", MultiSource.comparators, MultiSource.threshold)
    }
    // gold pairs this delta can form: a delta record with a present one
    Em.pairCounts(tr, cand, matches, {
      val present = Out.read(ctx.spark, s"${ctx.in}/gold.parquet").join(pool.select("rid"), "rid")
      val arrived = delta.select(col("rid").as("_d"))
      Em.sameEntityPairs(present)
        .join(arrived, col("id1") === col("_d") || col("id2") === col("_d"), "left_semi")
    })
    // (node, new cluster) over delta records and the stored roots they reach
    val merged = tr.df("clustering") {
      val contracted = matches
        .join(labels.select(col("rid").as("id2"), col("cluster").as("_root")), Seq("id2"), "left")
        .select(col("id1"), coalesce(col("_root"), col("id2")).as("id2"))
      Clusterers.connectedComponents(contracted)
    }
    // every record of an affected cluster, with its new cluster
    val members = tr.df("clustering") {
      val moved = labels.join(merged.select(col("id").as("cluster"), col("cluster").as("_new")),
          Seq("cluster"))
        .select(col("rid"), col("_new").as("cluster"))
      val arrived = delta.select("rid")
        .join(merged.withColumnRenamed("id", "rid"), Seq("rid"), "left")
        .select(col("rid"), coalesce(col("cluster"), col("rid")).as("cluster"))
      moved.unionByName(arrived)
    }
    Em.clusterCounts(tr, members)
    val refused = tr.df("fusion") {
      MultiSource.fuse(pool.join(members, Seq("rid"))).withColumn("alive", lit(true))
    }
    tr.count("fusion.clusters_fused")(refused.count().toDouble)
    // stored roots that merged into another cluster
    val retired = merged.filter(col("id") =!= col("cluster")).join(labels.select(col("rid").as("id")), "id")
      .select(col("id").as("cluster"))
    tr.run("io") {
      Sinks.writePartitioned(delta, part(ctx, "records", ver), Nil)
      Sinks.writePartitioned(members, part(ctx, "labels", ver), Nil)
      Sinks.writePartitioned(refused.unionByName(retired.withColumn("alive", lit(false)),
        allowMissingColumns = true), part(ctx, "fused", ver), Nil)
    }
    tr.count("io.bytes_written")(
      Seq("records", "labels", "fused").map(t => Out.bytesUnder(part(ctx, t, ver))).sum.toDouble)
    // check: every arrived record got a label, every affected cluster a row
    val written = Out.read(ctx.spark, part(ctx, "labels", ver))
    val missing = delta.select("rid").join(written, Seq("rid"), "left_anti").count()
    val unfused = written.select("cluster").distinct()
      .join(Out.read(ctx.spark, part(ctx, "fused", ver)), Seq("cluster"), "left_anti").count()
    require(missing == 0 && unfused == 0,
      s"delta $i: $missing arrived records without a label, $unfused clusters not re-fused")
    Out.digest(written) + "/" + Out.digest(Out.read(ctx.spark, part(ctx, "fused", ver)))
  }

  def quality(ctx: Ctx, out: String): Quality =
    MultiSource.score(ctx.spark, ctx.in, currentLabels(ctx), currentFused(ctx))

  /** The stored state after the last delta must equal a full
    * integration of the same records. */
  override def finish(ctx: Ctx): Option[Quality] = {
    val traced = ctx.tr.enabled
    ctx.tr.enabled = false
    try {
      val stored = Loaders.load(ctx.spark, s"${state(ctx)}/records.parquet").drop("ver")
      val (labels, fused) = fullIntegration(ctx, stored)
      val cmp = Seq(
        "labels" -> (currentLabels(ctx), labels),
        "fused" -> (currentFused(ctx), fused))
      cmp.foreach { case (t, (inc, full)) =>
        val (a, b) = (Out.digest(inc.select(full.columns.map(col).toIndexedSeq: _*)), Out.digest(full))
        require(a == b, s"incremental $t differs from a full recompute: $a vs $b")
      }
      Some(quality(ctx, ""))
    } finally ctx.tr.enabled = traced
  }
}

// ==========================================================================
// corpus_dedup
// ==========================================================================

object CorpusDedup extends Workload {
  val name = "corpus_dedup"
  def params: Gen.Params = Gen.Corpus.params
  def generate(spark: SparkSession, in: String, seed: Long): Long = Gen.Corpus.write(spark, in, seed)
  // Near-duplicates sit at 3-shingle Jaccard ~0.88 against their
  // original, above the 0.8 verification threshold; LSH with 4 bands of
  // 3 rows catches a pair at that Jaccard with probability ~0.99.
  val floors = Quality(0.9, 0.9)

  /** Documents sharing this many basis points of their 3-grams with the
    * probe set are dropped. */
  val ContaminationBp = 800

  def iterate(ctx: Ctx, i: Int, out: String): String = {
    val tr = ctx.tr
    val docs = tr.df("io") { Loaders.load(ctx.spark, s"${ctx.in}/docs.parquet") }
    val probes = tr.df("io") { Loaders.load(ctx.spark, s"${ctx.in}/probes.parquet") }
    val exact = tr.df("dedup") { Dedup.exact(docs, "doc_id", "text") }
    val reps = docs.join(exact.filter(col("doc_id") === col("dup_group")).select("doc_id"), "doc_id")
    tr.count("dedup.lsh_candidates")(Dedup.minhashCandidates(reps, "doc_id", "text").count().toDouble)
    val near = tr.df("dedup") { Dedup.minhashLsh(reps, "doc_id", "text") }
    tr.count("dedup.lsh_verified")(near.count().toDouble)
    val comp = tr.df("clustering") { Clusterers.connectedComponents(near) }
    Em.clusterCounts(tr, comp)
    val quality = tr.df("text") { TextOps.quality(reps, "doc_id", "text") }
    val canon = tr.df("dedup") { Dedup.canonicalByScore(comp, quality, "doc_id", "quality_bp") }
    val contam = tr.df("text") { TextOps.contamination(reps, probes, "doc_id", "text") }
    val survivors = reps
      .join(canon.filter(!col("keep")).select("doc_id"), Seq("doc_id"), "left_anti")
      .join(contam.filter(col("contaminated_bp") >= ContaminationBp).select("doc_id"), Seq("doc_id"),
        "left_anti")
    // each document's final group: the kept copy of its near-dup component
    val groups = exact.join(canon.select(col("doc_id").as("dup_group"), col("canonical_id")),
        Seq("dup_group"), "left")
      .select(col("doc_id"), coalesce(col("canonical_id"), col("dup_group")).as("grp"))
    tr.run("io") {
      Sinks.writePartitioned(survivors, s"$out/survivors.parquet", Nil)
      Sinks.writePartitioned(groups, s"$out/groups.parquet", Nil)
    }
    tr.count("io.bytes_written")(Out.bytesUnder(out).toDouble)
    val kept = Out.read(ctx.spark, s"$out/survivors.parquet")
    tr.count("text.docs_kept")(kept.count().toDouble)
    Out.digest(kept) + "/" + Out.digest(Out.read(ctx.spark, s"$out/groups.parquet"))
  }

  /** Pairwise F1 of the final groups against the planted ones; fused
    * accuracy is the share of planted groups whose kept copy is the
    * original (copies never score higher quality than it). */
  def quality(ctx: Ctx, out: String): Quality = {
    val gold = Out.read(ctx.spark, s"${ctx.in}/gold.parquet")
    val pred = Out.longMap(Out.read(ctx.spark, s"$out/groups.parquet"), "doc_id", "grp")
    val originals = gold.filter(col("is_original")).select("doc_id").collect().map(_.getLong(0))
    val kept = originals.count(o => pred.get(o).contains(o))
    Quality(Out.pairF1(pred, Out.longMap(gold, "doc_id", "grp")), kept.toDouble / originals.length)
  }
}
