package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.operators.StoredIndex

/** The narrow-rerank-window dispatch
  * (`spark.graft.rerank.narrowWindows`, default off locally, on in the
  * cluster profile): both window layouts must produce IDENTICAL search
  * rows — the sort keys (ascore, vec_id)/(score, vec_id) never involved
  * the query vector, so the layout is a pure plan property. Pinned on
  * the stored-codes search (q_c71's serve path) at sf0.001.
  */
class RerankNarrowSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-reranknarrow-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("narrow and fat window layouts return identical search rows") {
    val path = StoredIndex.segments(spark, StoredIndex.Ivf, sf)
    val (fn, nprobe, _) = SimilarityQueries.frozenQuantizer(spark, path)
    graft.functions.CosineSimilarity.register(spark)
    val e = graft.core.CachedRdds.registerDf(
      SimilarityQueries.ivfCorpus(spark, sf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val codes = spark.read.parquet(s"$path/seg0/codes")
    def run(): Seq[String] =
      SimilarityQueries.ivfSearchCodes(spark, codes, e, fn, nprobe)
        .collect().map(_.toString).toSeq
    assert(spark.conf.get("spark.graft.rerank.narrowWindows", "false") == "false",
      "local sessions must default to the fat (measured local winner) layout")
    val fat = run()
    spark.conf.set("spark.graft.rerank.narrowWindows", "true")
    try {
      val narrow = run()
      assert(fat.nonEmpty && fat === narrow,
        "the window layout must never change the answer")
    } finally spark.conf.unset("spark.graft.rerank.narrowWindows")
    graft.core.CachedRdds.drain()
  }

  test("the cluster profile ships the narrow layout") {
    assert(graft.core.GraftSession.clusterConfs()
      .get("spark.graft.rerank.narrowWindows").contains("true"))
  }
}
