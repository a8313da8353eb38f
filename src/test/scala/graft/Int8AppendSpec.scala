package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SimilarityQueries
import graft.operators.StoredIndex

/** Round-14 int8-IVF incremental append (q_c71) + drift monitor (q_c72).
  *
  * The lifecycle claim: appending a batch's codes under the base index's
  * FROZEN coarse quantizer is EXACTLY equivalent to rebuilding the whole
  * index under that same quantizer — assignment and int8 packing are
  * per-vector, so the union of base codes and batch codes IS the
  * full-corpus code table. What freezing cannot guarantee is that the
  * quantizer still fits the data; that is the drift monitor's job, and
  * its χ²-null decision rule must (a) NOT fire on an in-distribution
  * batch (whose KL is pure sampling noise ≈ (k−1)/(2n)) and (b) fire on
  * a genuinely shifted batch.
  */
class Int8AppendSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sf = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-int8append-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("q_c71: base index + appended batch codes == rebuild under the frozen quantizer") {
    val path = StoredIndex.segments(spark, StoredIndex.Ivf, sf)
    val (fn, nprobe, _) = SimilarityQueries.frozenQuantizer(spark, path)
    graft.functions.CosineSimilarity.register(spark)
    val e = graft.core.CachedRdds.registerDf(
      SimilarityQueries.ivfCorpus(spark, sf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // rebuild: code the FULL corpus under the same frozen quantizer
    val full = Files.createTempDirectory("int8-full").toString + "/codes"
    SimilarityQueries.buildInt8Index(spark, e, fn, full)
    val rebuilt = SimilarityQueries
      .ivfSearchStored(spark, full, e, fn, nprobe)
      .collect().map(_.toString).toSeq
    val appended = SparkEntry.queries("q_c71_ivf_append")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(rebuilt.nonEmpty && appended == rebuilt)
    graft.core.CachedRdds.drain()
  }

  test("frozen-quantizer rebind is deterministic and retrain-free") {
    val path = StoredIndex.segments(spark, StoredIndex.Ivf, sf)
    val a = SimilarityQueries.frozenQuantizer(spark, path)
    val b = SimilarityQueries.frozenQuantizer(spark, path)
    // the registered name is a content hash of the centroid matrix: two
    // rebinds of the same stored model must agree exactly
    assert(a == b && a._3 > 0)
  }

  test("q_c72: an in-distribution batch does not trip the rebuild gate") {
    val rows = SparkEntry.queries("q_c72_ivf_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the fixture batch (vec_id % 10 = 3) is drawn from the same
    // distribution as the base: raw KL is pure sampling noise (≈ 0.33
    // nats here), and the χ²-null gate must absorb it
    assert(rows.forall(!_.getAs[Boolean]("rebuild")))
  }

  test("q_c72: a shifted batch trips the rebuild gate") {
    val path = StoredIndex.segments(spark, StoredIndex.Ivf, sf)
    val (fn, _, k) = SimilarityQueries.frozenQuantizer(spark, path)
    // shift: collapse the batch onto 4 planted cluster directions — its
    // assignments concentrate on ~4 of the k cells
    val shifted = SimilarityQueries.clusteredCorpus(
      spark,
      SimilarityQueries.ivfCorpus(spark, sf).filter(col("vec_id") % 10 === 3),
      nClusters = 4)
      .select(expr(s"element_at($fn(v, 1), 1)").as("cell"))
    val rows = SimilarityQueries.ivfDrift(spark, s"$path/seg0/codes", shifted, k).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("rebuild")))
  }

  test("streaming ingestion: code + cell-count state serve == q_c71/q_c72 batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sp = spark
    implicit val sqlCtx = sp.sqlContext
    import sp.implicits._
    val path = StoredIndex.segments(sp, StoredIndex.Ivf, sf)
    val (fn, _, _) = SimilarityQueries.frozenQuantizer(sp, path)
    graft.functions.CosineSimilarity.register(sp)
    graft.functions.Int8Ops.register(sp)
    // the q_c71/q_c72 batch arrives LIVE in uneven micro-batches
    val batchRows = graft.core.Tables(sp, sf, "embeddings")
      .filter(col("vec_id") % 10 === 3)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    assert(batchRows.length > 2)
    val input = MemoryStream[(Long, Array[Float])]
    val vecs = input.toDF().toDF("vec_id", "embedding")
    val qCodes = graft.streaming.StreamingOps.ivfCodeUpdates(vecs, fn)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt_ivfcode").toString)
      .format("memory").queryName("ivfcodes").outputMode("append").start()
    val qCells = graft.streaming.StreamingOps.ivfCellUpdates(vecs, fn)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("ckpt_ivfcell").toString)
      .format("memory").queryName("ivfcells").outputMode("complete").start()
    for (chunk <- Seq(batchRows.take(1), batchRows.slice(1, 3), batchRows.drop(3))) {
      input.addData(chunk.toSeq)
      qCodes.processAllAvailable()
      qCells.processAllAvailable()
    }
    val e = graft.core.CachedRdds.registerDf(
      SimilarityQueries.ivfCorpus(sp, sf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val servedSearch = graft.streaming.StreamingOps
      .ivfAppendServe(sp, path, sp.table("ivfcodes"), e)
      .collect().map(_.toString).toSeq
    val servedDrift = graft.streaming.StreamingOps
      .ivfDriftServe(sp, path, sp.table("ivfcells"))
      .collect().map(_.toString).toSeq
    qCodes.stop(); qCells.stop()
    val batchSearch = SparkEntry.queries("q_c71_ivf_append")(sp, sf)
      .collect().map(_.toString).toSeq
    val batchDrift = SparkEntry.queries("q_c72_ivf_drift")(sp, sf)
      .collect().map(_.toString).toSeq
    graft.core.CachedRdds.drain()
    assert(servedSearch.nonEmpty && servedSearch === batchSearch,
      "stateless code rows through the shared search must equal the batch append")
    assert(servedDrift.nonEmpty && servedDrift === batchDrift,
      "additive cell counts through the shared drift tail must equal the batch monitor")
  }

  test("q_c72's base histogram reads only the codes table's cell column") {
    val plan = SparkEntry.queries("q_c72_ivf_drift")(spark, sf)
      .queryExecution.executedPlan.toString
    // the monitor must never deserialize the q8 payload bytes: its base
    // side is a column-pruned scan of the stored index
    assert(!plan.contains("q8"))
  }
}
