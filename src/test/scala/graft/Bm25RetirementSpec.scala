package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StoredIndex

/** q_c133 — the segment-retirement verdict (the GC half of the
  * stored-index lifecycle): additive per-segment digests prove the
  * compacted table holds exactly the segment union before any segment
  * directory is listed for deletion. The gates are (a) the verdict
  * fires on the real artifacts, (b) the digest equals an independent
  * driver-side BigInt fold, and (c) tampering with the compacted table
  * — dropping a row OR forging one in place — flips retire to 0.
  */
class Bm25RetirementSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-bm25retire-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val M = BigInt(1152921504606846976L) // 2^60

  test("real artifacts: every row carries retire=1; rows conserve") {
    val out = SparkEntry.queries("q_c133_segment_retirement")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(out.map(_._1) === Seq("compacted", "seg0", "seg1"))
    assert(out.forall(_._5 == 1L), s"compaction must be retirable: $out")
    val byName = out.map(r => r._1 -> r).toMap
    assert(byName("seg0")._2 + byName("seg1")._2 == byName("compacted")._2)
    // digest additivity across segments is literal in the output
    assert((BigInt(byName("seg0")._3) + BigInt(byName("seg1")._3)).mod(M)
      == BigInt(byName("compacted")._3))
  }

  test("digest equals an independent driver-side fold of the segment rows") {
    val segPath = StoredIndex.segments(spark, StoredIndex.Bm25, sf)
    val rows = spark.read.parquet(s"$segPath/seg0/postings").collect()
    // canonical row string: columns in SORTED NAME order, '|'-joined —
    // replicate with java MD5 and BigInt chunk sums
    val names = spark.read.parquet(s"$segPath/seg0/postings").columns.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    var (sa, sb) = (BigInt(0), BigInt(0))
    rows.foreach { r =>
      // string fields carry the injective length prefix (ADVICE r16)
      val s0 = names.map { n =>
        r.get(r.fieldIndex(n)) match {
          // code-POINT count: the engine (Spark length) and DuckDB
          // (length) both count code points, while Java String.length
          // counts UTF-16 units — they diverge on supplementary-plane
          // characters, so the reference must fold the same prefix
          // (ADVICE round 17)
          case s: String => s"${s.codePointCount(0, s.length)}:$s"
          case v => String.valueOf(v)
        }
      }.mkString("|")
      val h = md.digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
      sa += BigInt(h.substring(0, 16), 16)
      sb += BigInt(h.substring(16, 32), 16)
    }
    val out = SparkEntry.queries("q_c133_segment_retirement")(spark, sf)
      .filter(col("segment") === "seg0").collect()(0)
    assert(BigInt(out.getLong(2)) == sa.mod(M) && BigInt(out.getLong(3)) == sb.mod(M),
      "engine digest must equal the independent fold")
  }

  test("a dropped row and a forged row each flip the verdict to 0") {
    val segPath = StoredIndex.segments(spark, StoredIndex.Bm25, sf)
    val segs = Seq(
      "seg0" -> spark.read.parquet(s"$segPath/seg0/postings"),
      "seg1" -> spark.read.parquet(s"$segPath/seg1/postings"))
    val comp = spark.read.parquet(
      s"${StoredIndex.compacted(spark, StoredIndex.Bm25, segPath)}/postings")
    def verdict(c: org.apache.spark.sql.DataFrame): Seq[Long] =
      StoredIndex.segmentRetirementPlan(segs, c)
        .select(col("retire")).collect().map(_.getLong(0)).toSeq
    assert(verdict(comp).forall(_ == 1L))
    // drop one arbitrary posting row
    val first = comp.limit(1)
    val dropped = comp.exceptAll(first)
    assert(verdict(dropped).forall(_ == 0L), "a lost row must block retirement")
    // forge one row in place (same count — only the digest catches it)
    val forged = dropped.unionByName(
      first.withColumn("tf", col("tf") + 1L))
    assert(verdict(forged).forall(_ == 0L), "a forged row must block retirement")
  }

  test("the verb is family-general: MinHash signature segments retire too") {
    import graft.operators.DedupQueries
    val segPath = StoredIndex.segments(spark, StoredIndex.MinHash, sf)
    val cPath = StoredIndex.compacted(spark, StoredIndex.MinHash, segPath)
    val out = StoredIndex.segmentRetirementPlan(
        Seq("seg0" -> spark.read.parquet(s"$segPath/seg0/sigs"),
          "seg1" -> spark.read.parquet(s"$segPath/seg1/sigs")),
        spark.read.parquet(s"$cPath/sigs"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSeq
    assert(out.map(_._1) === Seq("compacted", "seg0", "seg1"))
    assert(out.forall(_._3 == 1L),
      s"signature compaction must be retirable: $out")
    assert(out.filter(_._1 != "compacted").map(_._2).sum ==
      out.find(_._1 == "compacted").get._2)
  }

  test("binary artifacts retire too: int8-IVF code segments (hex canonicalization)") {
    import graft.operators.SimilarityQueries
    val segPath = StoredIndex.segments(spark, StoredIndex.Ivf, sf)
    val cPath = StoredIndex.compacted(spark, StoredIndex.Ivf, segPath)
    def seg(p: String) = spark.read.parquet(p)
    val out = StoredIndex.segmentRetirementPlan(
        Seq("seg0" -> seg(s"$segPath/seg0/codes"),
          "seg1" -> seg(s"$segPath/seg1/codes")),
        seg(s"$cPath/codes"))
      .collect().map(r => (r.getString(0), r.getLong(4))).toSeq
    assert(out.forall(_._2 == 1L),
      s"int8 code compaction must be retirable: $out")
    // the BINARY column genuinely participates: flipping one byte of one
    // q8 blob (same row count, same ids) must move the digest
    val comp = seg(s"$cPath/codes")
    val first = comp.limit(1)
    val forged = comp.exceptAll(first).unionByName(
      first.selectExpr("vec_id", "cell",
        "concat(CAST(X'7f' AS BINARY), substring(q8, 2)) AS q8"))
    val verdicts = StoredIndex.segmentRetirementPlan(
        Seq("seg0" -> seg(s"$segPath/seg0/codes"),
          "seg1" -> seg(s"$segPath/seg1/codes")),
        forged)
      .select(org.apache.spark.sql.functions.col("retire"))
      .collect().map(_.getLong(0)).toSeq
    assert(verdicts.forall(_ == 0L),
      "a flipped code byte must block retirement (hex canon is injective)")
  }

  test("aggregated tables retire via the weighted digest: phrase bigrams") {
    import org.apache.spark.sql.functions.col
    val segPath = StoredIndex.segments(spark, StoredIndex.Phrase, sf)
    val cPath = StoredIndex.compacted(spark, StoredIndex.Phrase, segPath)
    def seg(p: String) = spark.read.parquet(p)
    // the postings half unions on compact → plain row digests retire it
    val postings = StoredIndex.segmentRetirementPlan(
        Seq("seg0" -> seg(s"$segPath/seg0/postings"),
          "seg1" -> seg(s"$segPath/seg1/postings")),
        seg(s"$cPath/postings"))
      .select(col("retire")).collect().map(_.getLong(0)).toSeq
    assert(postings.forall(_ == 1L), "phrase postings must retire row-wise")
    // the bigram half AGGREGATES on compact (counts sum): plain row
    // digests must refuse (the compacted rows are not the union)...
    val bigramSegs = Seq("seg0" -> seg(s"$segPath/seg0/bigrams"),
      "seg1" -> seg(s"$segPath/seg1/bigrams"))
    val comp = seg(s"$cPath/bigrams")
    val rowMode = StoredIndex.segmentRetirementPlan(bigramSegs, comp)
      .select(col("retire")).collect().map(_.getLong(0)).toSeq
    assert(rowMode.forall(_ == 0L),
      "row digests must refuse an aggregated compaction (it is not a union)")
    // ...while the cnt-weighted digest is aggregation-invariant and retires
    val weighted = StoredIndex.segmentRetirementPlan(bigramSegs, comp, Some("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4))).toSeq
    assert(weighted.forall(_._3 == 1L),
      s"weighted digests must retire the summed bigram table: $weighted")
    // n_rows reports the conserved total weight in weighted mode
    val byName = weighted.map(r => r._1 -> r._2).toMap
    assert(byName("seg0") + byName("seg1") == byName("compacted"))
    // tampering with one count blocks it
    val first = comp.limit(1)
    val forged = comp.exceptAll(first)
      .unionByName(first.withColumn("cnt", col("cnt") + 1L))
    val v2 = StoredIndex.segmentRetirementPlan(bigramSegs, forged, Some("cnt"))
      .select(col("retire")).collect().map(_.getLong(0)).toSeq
    assert(v2.forall(_ == 0L), "a bumped count must block retirement")
  }
}
