package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.StoredIndex

/** q_c134/q_c135/q_c136 — the retirement verdict REGISTERED for the
  * remaining three stored-index families (the q_c133 pattern; the law
  * itself is pinned in RetirementPropertySpec/Bm25RetirementSpec).
  * Gates per family: the verdict fires on the real artifacts, rows
  * conserve, and digest additivity is literal in the output. The
  * binary family (int8-IVF) additionally pins byte-flip sensitivity —
  * a single flipped code byte in the compacted table blocks retire —
  * and the phrase family pins BOTH table shapes (row-mode postings,
  * cnt-weighted bigrams) in one frame.
  */
class RetirementFamiliesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"
  private val M = BigInt(1152921504606846976L) // 2^60

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-retirefam-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def checkBlock(
      rows: Seq[(String, Long, Long, Long, Long)], label: String): Unit = {
    assert(rows.map(_._1) === Seq("compacted", "seg0", "seg1"), label)
    assert(rows.forall(_._5 == 1L), s"$label: must retire: $rows")
    val byName = rows.map(r => r._1 -> r).toMap
    assert(byName("seg0")._2 + byName("seg1")._2 == byName("compacted")._2,
      s"$label: conserved rows/weight")
    assert((BigInt(byName("seg0")._3) + BigInt(byName("seg1")._3)).mod(M)
      == BigInt(byName("compacted")._3), s"$label: digest additivity")
  }

  test("q_c134: the MinHash signature segments retire into their compaction") {
    checkBlock(SparkEntry.queries("q_c134_minhash_retirement")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq, "minhash")
    graft.core.CachedRdds.drain()
  }

  test("q_c135: the int8-IVF code segments retire; a flipped code byte blocks it") {
    checkBlock(SparkEntry.queries("q_c135_ivf_retirement")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq, "ivf")
    // tamper: flip one byte of one q8 code in the compacted table — the
    // hex canonicalization must carry the change into the digest
    val segPath = StoredIndex.segments(spark, StoredIndex.Ivf, sf)
    val cPath = StoredIndex.compacted(spark, StoredIndex.Ivf, segPath)
    val comp = spark.read.parquet(s"$cPath/codes")
    val minId = comp.agg(min(col("vec_id"))).head().getLong(0)
    val forged = comp.withColumn("q8",
      when(col("vec_id") === minId,
        expr("concat(unhex('FF'), substr(q8, 2, octet_length(q8) - 1))"))
        .otherwise(col("q8")))
    val verdict = StoredIndex.segmentRetirementPlan(
        Seq("seg0" -> spark.read.parquet(s"$segPath/seg0/codes"),
          "seg1" -> spark.read.parquet(s"$segPath/seg1/codes")),
        forged)
      .select(col("retire")).collect().map(_.getLong(0)).toSeq
    assert(verdict.forall(_ == 0L), "a flipped code byte must block retirement")
    graft.core.CachedRdds.drain()
  }

  test("q_c136: phrase postings (row mode) AND bigrams (weighted) both retire") {
    val out = SparkEntry.queries("q_c136_phrase_retirement")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(out.map(_._1) ===
      Seq("bigrams", "bigrams", "bigrams", "postings", "postings", "postings"))
    for (tbl <- Seq("postings", "bigrams"))
      checkBlock(out.filter(_._1 == tbl)
        .map(r => (r._2, r._3, r._4, r._5, r._6)), s"phrase/$tbl")
    // weighted mode really is weight-conserving, not row-counting: the
    // bigram block's n_rows is the summed cnt, which must exceed the
    // distinct row count of the compacted table
    val segPath = StoredIndex.segments(spark, StoredIndex.Phrase, sf)
    val cPath = StoredIndex.compacted(spark, StoredIndex.Phrase, segPath)
    val nKeys = spark.read.parquet(s"$cPath/bigrams").count()
    val wRow = out.find(r => r._1 == "bigrams" && r._2 == "compacted").get
    assert(wRow._3 > nKeys, "bigram n_rows must report total weight, not key count")
    graft.core.CachedRdds.drain()
  }
}
