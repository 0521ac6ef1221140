package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.sql.Date
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every workload's inputs and gold come from
  * one `SplittableRandom` stream keyed by (seed, workload), and each
  * table is written as exactly one parquet file with a fixed name, so
  * the same seed gives byte-identical files. The program under test
  * sees only these files; the gold tables are read by the benchmark's
  * own checks.
  */
object Gen {

  /** Sizes and noise rates of one generated workload, printed with the
    * metrics. */
  final case class Params(values: Seq[(String, Any)]) {
    def render: String = values.map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  // ---- parquet output with stable bytes ----

  def writeTable(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit = {
    val tmp = new File(path + ".tmp")
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no parquet part written under $tmp"))
    val dst = new File(path)
    dst.mkdirs()
    Files.move(part.toPath, new File(dst, "part-00000.snappy.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    deleteTree(tmp)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  // ---- vocabulary and noise ----

  private val Consonants = "bcdfghklmnprstvz"
  private val Vowels = "aeiou"

  final class Rng(seed: Long) {
    private val r = new SplittableRandom(seed)
    def int(n: Int): Int = r.nextInt(n)
    def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
    def double(): Double = r.nextDouble()
    def chance(p: Double): Boolean = r.nextDouble() < p
    def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.size))
    def word(syllables: Int): String =
      (0 until syllables).map(_ => s"${Consonants(int(Consonants.length))}${Vowels(int(Vowels.length))}")
        .mkString + (if (chance(0.5)) Consonants(int(Consonants.length)).toString else "")
    /** `n` distinct words of 2–3 syllables. */
    def words(n: Int): IndexedSeq[String] = {
      val seen = scala.collection.mutable.LinkedHashSet[String]()
      while (seen.size < n) seen += word(between(2, 3))
      seen.toIndexedSeq
    }
    def shuffle[T](xs: IndexedSeq[T]): IndexedSeq[T] = {
      val a = xs.toArray[Any]
      for (i <- a.indices.reverse if i > 0) {
        val j = int(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toIndexedSeq.asInstanceOf[IndexedSeq[T]]
    }
  }

  /** One random character edit: substitute, insert, delete or swap. */
  def typo(rng: Rng, s: String): String =
    if (s.length < 2) s
    else {
      val i = rng.int(s.length - 1)
      val c = Consonants(rng.int(Consonants.length))
      rng.int(4) match {
        case 0 => s.substring(0, i) + c + s.substring(i + 1)
        case 1 => s.substring(0, i) + c + s.substring(i)
        case 2 => s.substring(0, i) + s.substring(i + 1)
        case _ => s.substring(0, i) + s(i + 1) + s(i) + s.substring(i + 2)
      }
    }

  private val Abbrev = Map("corporation" -> "corp", "international" -> "intl",
    "company" -> "co", "limited" -> "ltd", "holdings" -> "hldgs", "industries" -> "ind")
  private val Suffixes = Abbrev.keys.toIndexedSeq.sorted

  def abbreviate(s: String): String =
    s.split(" ").map(t => Abbrev.getOrElse(t.toLowerCase, t)).mkString(" ")

  def swapTokens(rng: Rng, s: String): String = {
    val t = s.split(" ")
    if (t.length < 2) s
    else { val i = rng.int(t.length - 1); val x = t(i); t(i) = t(i + 1); t(i + 1) = x; t.mkString(" ") }
  }

  /** Surface noise a source adds to a value (never changes what the
    * value means): case, padding, doubled spaces. Normalization undoes
    * it. */
  def formatting(rng: Rng, s: String): String = rng.int(4) match {
    case 0 => s.toUpperCase
    case 1 => s"  $s "
    case 2 => s.replace(" ", "  ")
    case _ => s
  }

  private def titled(s: String): String = s.split(" ").map(_.capitalize).mkString(" ")

  // ======================================================================
  // em_two_source
  // ======================================================================

  object TwoSource {
    val PerSide = 1200
    val Overlap = 0.7
    val Regions = 24
    val PTypo = 0.3
    val PAbbrev = 0.3
    val PSwap = 0.15
    val PNullCity = 0.05
    val PDrift = 0.3
    val PRegionNull = 0.02

    val schema: StructType = StructType(Seq(
      StructField("key", LongType, false), StructField("name", StringType),
      StructField("city", StringType), StructField("region", StringType),
      StructField("employees", StringType)))

    val BKeyBase = 10000000L

    def params: Params = Params(Seq("records_per_side" -> PerSide, "overlap" -> Overlap,
      "regions" -> Regions, "p_typo" -> PTypo, "p_abbrev" -> PAbbrev, "p_swap" -> PSwap,
      "p_null_city" -> PNullCity, "p_drift" -> PDrift, "p_region_null" -> PRegionNull))

    /** Writes a.parquet, b.parquet, gold_pairs.parquet, truth.parquet. */
    def write(spark: SparkSession, dir: String, seed: Long): Long = {
      val rng = new Rng(seed * 31 + 1)
      val vocab = rng.words(3000)
      val firsts = rng.words(300)
      val cities = rng.words(400)
      case class Ent(name: String, city: String, region: String, employees: Long)
      def entity(): Ent = {
        val name =
          if (rng.chance(0.5)) s"${rng.pick(firsts)} ${rng.pick(vocab)}"
          else s"${rng.pick(vocab)} ${rng.pick(vocab)} ${rng.pick(Suffixes)}"
        Ent(titled(name), titled(rng.pick(cities)), f"R${rng.int(Regions)}%02d", rng.between(5, 20000).toLong)
      }
      val ents = (0 until PerSide).map(_ => entity())
      val aRows = ents.zipWithIndex.map { case (e, i) =>
        Row(i.toLong, e.name, e.city, e.region, e.employees.toString)
      }
      val nMatched = (PerSide * Overlap).toInt
      val matchedIdx = rng.shuffle(ents.indices).take(nMatched).sorted
      val bEnts = matchedIdx.map(i => (Some(i), ents(i))) ++
        (0 until PerSide - nMatched).map(_ => (None, entity()))
      val order = rng.shuffle(bEnts.indices)
      val gold = ArrayBuffer[Row]()
      val truth = ArrayBuffer[Row]()
      ents.zipWithIndex.foreach { case (e, i) =>
        truth += Row(i.toLong, i.toLong, e.name.toLowerCase, e.city.toLowerCase, e.employees) }
      val bRows = order.zipWithIndex.map { case (j, pos) =>
        val (src, e) = bEnts(j)
        val key = BKeyBase + pos
        src match {
          case Some(i) =>
            gold += Row(i.toLong, key)
            var name = e.name
            if (rng.chance(PAbbrev)) name = abbreviate(name)
            if (rng.chance(PSwap)) name = swapTokens(rng, name)
            if (rng.chance(PTypo)) name = typo(rng, name)
            val city = if (rng.chance(PNullCity)) null
              else if (rng.chance(PTypo)) typo(rng, e.city) else e.city
            val emp = if (rng.chance(PDrift)) (e.employees * (1.0 - 0.05 * rng.double())).toLong
              else e.employees
            val region = if (rng.chance(PRegionNull)) null else e.region
            Row(key, formatting(rng, name), city, region, f"$emp%,d")
          case None =>
            truth += Row(-1L - pos, key, e.name.toLowerCase, e.city.toLowerCase, e.employees)
            Row(key, formatting(rng, e.name), e.city, e.region, f"${e.employees}%,d")
        }
      }
      writeTable(spark, aRows, schema, s"$dir/a.parquet")
      writeTable(spark, bRows, schema, s"$dir/b.parquet")
      writeTable(spark, gold.toSeq, StructType(Seq(StructField("a_key", LongType),
        StructField("b_key", LongType))), s"$dir/gold_pairs.parquet")
      // anchor = the record whose cluster carries the entity's fused row
      writeTable(spark, truth.toSeq, StructType(Seq(StructField("entity", LongType),
        StructField("anchor", LongType), StructField("name", StringType),
        StructField("city", StringType), StructField("employees", LongType))),
        s"$dir/truth.parquet")
      aRows.size.toLong + bRows.size
    }
  }

  // ======================================================================
  // em_multi_source / em_incremental
  // ======================================================================

  object MultiSource {
    val Sources = 8
    val PTypo = 0.25
    val PAbbrev = 0.2
    val PStatusFlip = 0.2
    val PPriceNoise = 0.3
    val PDateShift = 0.4
    val PTagDrop = 0.25
    val PDescCut = 0.3
    val PCodeNoise = 0.03
    val SourceKeyBase = 10000000L

    val recordSchema: StructType = StructType(Seq(
      StructField("rid", LongType, false), StructField("source", StringType),
      StructField("name", StringType), StructField("code", StringType),
      StructField("status", StringType), StructField("description", StringType),
      StructField("price", DoubleType), StructField("updated", DateType),
      StructField("tags", ArrayType(StringType))))

    val truthSchema: StructType = StructType(Seq(
      StructField("entity", LongType), StructField("name", StringType),
      StructField("status", StringType), StructField("description", StringType),
      StructField("price", DoubleType), StructField("updated", DateType),
      StructField("tags", ArrayType(StringType))))

    val goldSchema: StructType = StructType(Seq(
      StructField("rid", LongType), StructField("entity", LongType)))

    def params(entities: Int): Params = Params(Seq("entities" -> entities,
      "sources" -> Sources, "sources_per_entity" -> "3-8", "p_typo" -> PTypo,
      "p_abbrev" -> PAbbrev, "p_status_flip" -> PStatusFlip, "p_price_noise" -> PPriceNoise,
      "p_date_shift" -> PDateShift, "p_tag_drop" -> PTagDrop, "p_desc_cut" -> PDescCut,
      "p_code_noise" -> PCodeNoise))

    final case class Out(records: IndexedSeq[Row], gold: IndexedSeq[Row], truth: IndexedSeq[Row])

    /** Entities, each seen by 3–8 of the 8 sources with conflicting
      * values; records come out in a seeded shuffled order. */
    def generate(seed: Long, entities: Int): Out = {
      val rng = new Rng(seed * 31 + 2)
      val vocab = rng.words(4000)
      val tagVocab = rng.words(60)
      val statuses = IndexedSeq("active", "dormant", "closed", "merged", "pending")
      val epoch = Date.valueOf("2015-01-01").toLocalDate
      val seq = Array.fill(Sources)(0L)
      val recs = ArrayBuffer[(Row, Long)]()
      val truth = ArrayBuffer[Row]()
      // sources per entity cycle through 3..8 in a seeded order, so every
      // seed yields the same record count
      val seenBy = rng.shuffle((0 until entities).map(e => 3 + e % 6))
      for (e <- 0 until entities) {
        val name = titled(s"${rng.pick(vocab)} ${rng.pick(vocab)} ${rng.pick(Suffixes)}")
        val code = f"${rng.int(entities)}%07d"
        val status = rng.pick(statuses)
        val desc = (0 until rng.between(6, 14)).map(_ => rng.pick(vocab)).mkString(" ")
        val price = rng.between(100, 100000) / 100.0
        val updated = epoch.plusDays(rng.int(3000).toLong)
        val tags = rng.shuffle(tagVocab).take(rng.between(2, 4)).sorted
        truth += Row(e.toLong, name.toLowerCase, status, desc, price, Date.valueOf(updated), tags)
        val srcs = rng.shuffle(0 until Sources).take(seenBy(e)).sorted
        srcs.foreach { s =>
          var n = name
          if (rng.chance(PAbbrev)) n = abbreviate(n)
          if (rng.chance(PTypo)) n = typo(rng, n)
          val c = if (rng.chance(PCodeNoise)) typo(rng, code) else code
          val st = if (rng.chance(PStatusFlip)) rng.pick(statuses) else status
          val d = if (rng.chance(PDescCut)) desc.split(" ").dropRight(rng.between(1, 3)).mkString(" ")
            else desc
          val p = if (rng.chance(PPriceNoise)) math.rint(price * (1.0 + 0.02 * (rng.double() - 0.5)) * 100) / 100
            else price
          val u = if (rng.chance(PDateShift)) updated.minusDays(rng.between(1, 400).toLong) else updated
          val tg = tags.filter(_ => !rng.chance(PTagDrop))
          val rid = SourceKeyBase * (s + 1) + seq(s)
          seq(s) += 1
          recs += ((Row(rid, s"src$s", formatting(rng, n), c, st, d, p, Date.valueOf(u), tg), e.toLong))
        }
      }
      val order = rng.shuffle(recs.indices)
      Out(order.map(i => recs(i)._1), order.map(i => Row(recs(i)._1.getLong(0), recs(i)._2)),
        truth.toIndexedSeq)
    }

    def params: Params = params(Batch)
    val Batch = 500

    /** em_multi_source: records.parquet, gold.parquet, truth.parquet. */
    def write(spark: SparkSession, dir: String, seed: Long): Long = {
      val o = generate(seed, Batch)
      writeTable(spark, o.records, recordSchema, s"$dir/records.parquet")
      writeTable(spark, o.gold, goldSchema, s"$dir/gold.parquet")
      writeTable(spark, o.truth, truthSchema, s"$dir/truth.parquet")
      o.records.size.toLong
    }
  }

  object Incremental {
    val Entities = 800
    /** Share of all records held back from the base as arrivals. */
    val ArrivalShare = 0.3
    /** Records per delta as a share of the base. */
    val DeltaShare = 0.01

    def params: Params = Params(MultiSource.params(Entities).values ++
      Seq("arrival_share" -> ArrivalShare, "delta_share_of_base" -> DeltaShare))

    /** base.parquet, deltas/NNN.parquet, gold.parquet, truth.parquet.
      * Returns the records per delta. */
    def write(spark: SparkSession, dir: String, seed: Long): Long = {
      val o = MultiSource.generate(seed ^ 0x5eedL, Entities)
      val nBase = ((1 - ArrivalShare) * o.records.size).toInt
      val base = o.records.take(nBase)
      val per = math.max(1, (nBase * DeltaShare).toInt)
      val deltas = o.records.drop(nBase).grouped(per).filter(_.size == per).toIndexedSeq
      writeTable(spark, base, MultiSource.recordSchema, s"$dir/base.parquet")
      deltas.zipWithIndex.foreach { case (d, i) =>
        writeTable(spark, d, MultiSource.recordSchema, f"$dir/deltas/$i%03d.parquet")
      }
      writeTable(spark, o.gold, MultiSource.goldSchema, s"$dir/gold.parquet")
      writeTable(spark, o.truth, MultiSource.truthSchema, s"$dir/truth.parquet")
      per.toLong
    }

    def deltaCount(dir: String): Int =
      Option(new File(s"$dir/deltas").list()).map(_.count(_.endsWith(".parquet"))).getOrElse(0)
  }

  // ======================================================================
  // corpus_dedup
  // ======================================================================

  object Corpus {
    val Docs = 400
    val GroupShare = 0.2
    val Probes = 40
    val ContaminatedShare = 0.02
    val MinWords = 50
    val MaxWords = 200
    /** Words replaced per near-duplicate copy, per 100 words. */
    val EditsPer100 = 1.5
    val PExactCopy = 0.25

    val Stopwords: IndexedSeq[String] = IndexedSeq("the", "of", "and", "to", "in", "a", "is",
      "that", "for", "it", "as", "was", "with", "be", "by", "on", "not", "he", "this", "are")

    val docSchema: StructType = StructType(Seq(
      StructField("doc_id", LongType, false), StructField("text", StringType)))

    def params: Params = Params(Seq("docs" -> Docs, "group_share" -> GroupShare,
      "group_size" -> "2-6", "words" -> s"$MinWords-$MaxWords", "edits_per_100_words" -> EditsPer100,
      "p_exact_copy" -> PExactCopy, "probes" -> Probes, "contaminated_share" -> ContaminatedShare))

    /** docs.parquet, probes.parquet, gold.parquet (doc_id, grp,
      * is_original, contaminated). Group ids are the original's doc id;
      * originals take the lowest id of their group. */
    def write(spark: SparkSession, dir: String, seed: Long): Long = {
      val rng = new Rng(seed * 31 + 3)
      val vocab = rng.words(5000)
      def text(n: Int): IndexedSeq[String] = (0 until n).map { _ =>
        if (rng.chance(0.35)) rng.pick(Stopwords)
        else vocab(math.min(vocab.size - 1, (vocab.size * math.pow(rng.double(), 2.5)).toInt))
      }
      val probes = (0 until Probes).map(i => Row(i.toLong, text(rng.between(80, 160)).mkString(" ")))
      val docs = ArrayBuffer[(IndexedSeq[String], Long, Boolean, Boolean)]() // words, grp, original, contaminated
      val grouped = (Docs * GroupShare).toInt
      while (docs.size < grouped) {
        val orig = text(rng.between(MinWords, MaxWords))
        val size = math.min(rng.between(2, 6), grouped - docs.size)
        val gid = docs.size.toLong
        docs += ((orig, gid, true, false))
        (1 until size).foreach { _ =>
          val copy =
            if (rng.chance(PExactCopy)) orig
            else {
              // near-duplicate: replace stopwords/words by non-stopwords only,
              // so a copy never scores higher quality than its original
              val w = orig.toArray
              val edits = math.max(1, (w.length * EditsPer100 / 100).round.toInt)
              (0 until edits).foreach(_ => w(rng.int(w.length)) = rng.pick(vocab))
              w.toIndexedSeq
            }
          docs += ((copy, gid, false, false))
        }
      }
      while (docs.size < Docs) {
        val w = text(rng.between(MinWords, MaxWords))
        if (rng.chance(ContaminatedShare / (1 - GroupShare))) {
          val p = probes(rng.int(Probes)).getString(1).split(" ")
          val at = rng.int(p.length - 40)
          val pos = rng.int(w.length)
          docs += ((w.take(pos) ++ p.slice(at, at + 40) ++ w.drop(pos), docs.size.toLong, false, true))
        } else docs += ((w, docs.size.toLong, false, false))
      }
      val docRows = docs.zipWithIndex.map { case ((w, _, _, _), i) => Row(i.toLong, w.mkString(" ")) }
      val goldRows = docs.zipWithIndex.map { case ((_, g, o, c), i) => Row(i.toLong, g, o, c) }
      writeTable(spark, docRows.toSeq, docSchema, s"$dir/docs.parquet")
      writeTable(spark, probes, docSchema, s"$dir/probes.parquet")
      writeTable(spark, goldRows.toSeq, StructType(Seq(StructField("doc_id", LongType),
        StructField("grp", LongType), StructField("is_original", BooleanType),
        StructField("contaminated", BooleanType))), s"$dir/gold.parquet")
      docRows.size.toLong
    }
  }
}
