package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StoredIndex

/** Round-16 int8-IVF segment compaction (q_c130) + artifact-only
  * symmetric stage-1 (q_c131) — the fourth verb for the fourth (last)
  * stored-index family, completing the build/search/append/compact
  * lifecycle matrix.
  *
  * The claim structure mirrors StoredBm25Spec/StoredMinhashSpec: the
  * compacted search loses nothing vs q_c71's stored-∪-batch append
  * search (code rows are per-vector and the frozen model is carried
  * through unchanged), the segments are a genuine partition of the
  * corpus, and compaction is a function of the stored segments ALONE —
  * proven by deleting the corpus copy before compacting.
  */
class Int8CompactSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-int8compact-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("q_c130: compacted-index search == q_c71 append search") {
    val compacted = SparkEntry.queries("q_c130_ivf_compacted")(spark, sf)
      .collect().map(_.toString).toSeq
    val appended = SparkEntry.queries("q_c71_ivf_append")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(compacted.nonEmpty && compacted === appended,
      "compaction must lose nothing vs the append search")
  }

  test("segments genuinely split; compacted codes == exact union") {
    val segPath = StoredIndex.segments(spark, StoredIndex.Ivf, sf)
    val seg0 = spark.read.parquet(s"$segPath/seg0/codes")
      .select(col("vec_id")).collect().map(_.getLong(0))
    val seg1 = spark.read.parquet(s"$segPath/seg1/codes")
      .select(col("vec_id")).collect().map(_.getLong(0))
    assert(seg0.nonEmpty && seg0.forall(_ % 10 != 3))
    assert(seg1.nonEmpty && seg1.forall(_ % 10 == 3))
    val path = StoredIndex.compacted(spark, StoredIndex.Ivf, segPath)
    // full code ROWS (id, cell, bytes) survive the merge exactly
    def rows(p: String): Seq[String] =
      spark.read.parquet(p)
        .select(col("vec_id"), col("cell"), hex(col("q8")))
        .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$path/codes") ===
      (rows(s"$segPath/seg0/codes") ++ rows(s"$segPath/seg1/codes")).sorted)
    // the frozen model rides along: same centroids, same (dim,nprobe,k)
    assert(spark.read.parquet(s"$path/model").collect().map(_.toString).toSeq ===
      spark.read.parquet(s"$segPath/model").collect().map(_.toString).toSeq)
    assert(spark.read.parquet(s"$path/cents").collect().map(_.toString).sorted.toSeq ===
      spark.read.parquet(s"$segPath/cents").collect().map(_.toString).sorted.toSeq)
  }

  test("compaction reads only the stored segments, never the corpus") {
    // build segments over a COPY of the corpus, delete the copy, then
    // compact: if the merge touched embeddings.parquet it would fail,
    // and the compacted codes must still be the exact segment union
    val tmp = Files.createTempDirectory("graft-ivf-compact-proof")
    val embCopy = tmp.resolve("embeddings.parquet")
    Files.copy(Paths.get(sf, "embeddings.parquet"), embCopy)
    val segPath = StoredIndex.segments(spark, StoredIndex.Ivf, tmp.toString)
    Files.delete(embCopy)
    val path = StoredIndex.compacted(spark, StoredIndex.Ivf, segPath)
    val merged = spark.read.parquet(s"$path/codes")
      .select(col("vec_id"), col("cell"), hex(col("q8")))
      .collect().map(_.toString).sorted.toSeq
    val union = spark.read.parquet(s"$segPath/seg0/codes", s"$segPath/seg1/codes")
      .select(col("vec_id"), col("cell"), hex(col("q8")))
      .collect().map(_.toString).sorted.toSeq
    assert(merged.nonEmpty && merged === union,
      "compacted-after-corpus-deletion codes must equal the segment union")
    Files.delete(tmp)
  }

  test("q_c131: artifact-only stage-1 is well-formed and run-to-run stable") {
    val a = SparkEntry.queries("q_c131_ivf_stage1")(spark, sf).collect()
    assert(a.nonEmpty)
    // per-query ranks are 1..n contiguous and candidates never self-match
    a.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val ranks = rs.map(_.getLong(1)).sorted.toSeq
      assert(ranks === (1L to ranks.length).toSeq, s"ranks broken for query $q")
      assert(rs.forall(_.getLong(2) != q), s"self-match for query $q")
    }
    // bit-determinism in-engine: a second run reproduces every byte
    val b = SparkEntry.queries("q_c131_ivf_stage1")(spark, sf).collect()
    assert(a.map(_.toString).toSeq === b.map(_.toString).toSeq)
  }
}
