package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.StoredIndex

/** q_c66 — the stored MinHash signature index (the q_c45/int8
  * index-lifecycle class): stored-search candidates are bit-identical to
  * the derived pipeline, the signature table is a small fraction of the
  * corpus text bytes, and a warm session serves repeat searches from the
  * SAME on-disk index instead of rebuilding.
  */
class StoredMinhashSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.01"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-stored-minhash-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("stored-index candidates == derived pipeline == q_c1") {
    import graft.operators.DedupQueries
    val stored = SparkEntry.queries("q_c66_minhash_stored")(spark, sf)
      .collect().map(_.toString).toSeq
    val derived = SparkEntry.queries("q_c1_minhash_lsh")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(stored.nonEmpty, "fixture must produce candidate pairs")
    assert(stored === derived)
    // signatures round-trip exactly through parquet
    val path = StoredIndex.full(spark, StoredIndex.MinHash, sf)
    val sigStored = spark.read.parquet(s"$path/sigs")
      .collect().map(_.toString).sorted.toSeq
    val sigDerived = DedupQueries.minhashSignatures(graft.core.Tables(spark, sf, "documents"))
      .collect().map(_.toString).sorted.toSeq
    assert(sigStored === sigDerived)
  }

  test("q_c68: base index + appended batch signatures == full rebuild == q_c1") {
    import graft.operators.DedupQueries
    import org.apache.spark.sql.functions._
    val appended = SparkEntry.queries("q_c68_minhash_append")(spark, sf)
      .collect().map(_.toString).toSeq
    val full = SparkEntry.queries("q_c1_minhash_lsh")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(appended.nonEmpty && appended === full,
      "incremental maintenance must lose nothing vs a rebuild")
    // the stored base index genuinely excludes the batch — the append
    // path cannot be serving a secretly-full index
    val baseIds = spark.read
      .parquet(s"${StoredIndex.segments(spark, StoredIndex.MinHash, sf)}/seg0/sigs")
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(baseIds.nonEmpty && baseIds.forall(_ % 10 != 3))
  }

  test("q_c129: compacted segments == stored search == q_c1; segments genuinely split") {
    import org.apache.spark.sql.functions.col
    val compacted = SparkEntry.queries("q_c129_minhash_compacted")(spark, sf)
      .collect().map(_.toString).toSeq
    val stored = SparkEntry.queries("q_c66_minhash_stored")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(compacted.nonEmpty && compacted == stored,
      "signature compaction must lose nothing vs the one-shot index")
    // the segments are a real partition of the corpus by the batch rule
    val segPath = StoredIndex.segments(spark, StoredIndex.MinHash, sf)
    val seg0 = spark.read.parquet(s"$segPath/seg0/sigs")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val seg1 = spark.read.parquet(s"$segPath/seg1/sigs")
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(seg0.nonEmpty && seg0.forall(_ % 10 != 3))
    assert(seg1.nonEmpty && seg1.forall(_ % 10 == 3))
    // the compacted table is the exact union, one row per doc
    val path = StoredIndex.compacted(spark, StoredIndex.MinHash, segPath)
    val merged = spark.read.parquet(s"$path/sigs")
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(merged.sorted.toSeq == (seg0 ++ seg1).sorted.toSeq)
  }

  test("a warm session reuses the index; the signature table is small") {
    import graft.operators.DedupQueries
    val p1 = StoredIndex.full(spark, StoredIndex.MinHash, sf)
    val p2 = StoredIndex.full(spark, StoredIndex.MinHash, sf)
    assert(p1 === p2, "unchanged corpus snapshot must serve the same index")
    val sigBytes = java.nio.file.Files.walk(java.nio.file.Paths.get(p1, "sigs"))
      .filter(f => f.toString.endsWith(".parquet"))
      .mapToLong(f => java.nio.file.Files.size(f)).sum()
    val docBytes = graft.core.Sizing.onDiskBytes(spark, s"$sf/documents.parquet")
    assert(sigBytes > 0)
    assert(sigBytes < docBytes / 2,
      s"signature index ($sigBytes B) must be far under the corpus text ($docBytes B)")
  }
}
