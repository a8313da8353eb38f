package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.core.{CachedRdds, SessionMemo}

/** The query workload: every named query through the noop sink, a cold
  * pass then warm passes, in a seed-permuted order per pass.
  */
final class Queries(spark: SparkSession, args: Args) {
  private val names = Queries.llm
  private val fns = SparkEntry.queries
  private val dir = args.tables
  private val rng = new scala.util.Random(args.seed)

  private def execute(name: String): Option[Throwable] =
    try {
      fns(name)(spark, dir).write.format("noop").mode("overwrite").save(); None
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        Some(e)
    } finally CachedRdds.drain()

  /** One untraced pass: wall seconds and per-query (seconds, error). */
  private def pass(): (Double, Map[String, (Double, Option[Throwable])]) = {
    val t0 = System.nanoTime()
    val out = rng.shuffle(names).map { n =>
      val q0 = System.nanoTime()
      val err = execute(n)
      val dt = (System.nanoTime() - q0) / 1e9
      System.err.println(f"[perfbench] $n%-28s $dt%.3f s")
      n -> (dt, err)
    }.toMap
    ((System.nanoTime() - t0) / 1e9, out)
  }

  private def tableBytes: Long = Queries.tables.map(t => new File(s"$dir/$t.parquet").length).sum

  def run(res: Result): Unit = {
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    val (cold, coldQ) = pass()
    val warm = mutable.ArrayBuffer.empty[(Double, Map[String, (Double, Option[Throwable])])]
    while (warm.size < Queries.WarmPasses || System.nanoTime() < deadline) warm += pass()
    val errored = (coldQ +: warm.map(_._2).toSeq).flatMap(_.collect { case (n, (_, Some(_))) => n }).toSet
    // the JIT is still compiling planner code during the first two warm
    // passes (each ran 5-10 % faster than the one before)
    val steady = warm.drop(2).toSeq
    val warmS = Stats.median(steady.map(_._1))
    res.metric("cold_s", cold, "s")
    res.metric("warm_s", warmS, "s")
    res.metric("p50_s", Stats.median(names.map(n => Stats.median(steady.map(_._2(n)._1)))), "s")
    res.metric("raw_MBps", tableBytes / 1e6 / warmS, "MB/s")
    val c0 = System.nanoTime()
    check(res, errored)
    System.err.println(f"[perfbench] check took ${(System.nanoTime() - c0) / 1e9}%.1f s")
  }

  /** Compare every query's result with its committed fingerprint (untimed). */
  private def check(res: Result, errored: Set[String]): Unit = {
    val expected = Queries.readFingerprints(args.fingerprints)
    names.foreach { n =>
      val bad = errored(n) || (try !expected.get(n).contains(Queries.fingerprint(fns(n)(spark, dir)))
      catch { case e: Throwable => System.err.println(s"[perfbench] check $n: $e"); true }
      finally CachedRdds.drain())
      if (bad) System.err.println(s"[perfbench] $n: result does not match its fingerprint")
      res.attempt(1, if (bad) 1 else 0)
    }
  }

  /** Dump each result (parquet) and its fingerprint, for the oracle check.
    * The dumped result is the cold run's (memo and stored indexes empty);
    * the fingerprint is taken from a second, warm run and must equal the
    * dumped result's, so the committed fingerprint covers both paths.
    */
  def dump(): Unit = {
    new File(args.dump).mkdirs()
    val fps = names.map { n =>
      val df = fns(n)(spark, dir)
      df.coalesce(1).write.mode("overwrite").parquet(s"${args.dump}/$n")
      CachedRdds.drain()
      val cold = Queries.fingerprint(spark.read.parquet(s"${args.dump}/$n"))
      val (rows, hash) = Queries.fingerprint(fns(n)(spark, dir))
      CachedRdds.drain()
      if (cold != (rows, hash)) sys.error(s"$n: cold result $cold differs from warm result ${(rows, hash)}")
      s""""$n":{"rows":$rows,"hash":"$hash"}"""
    }
    Files.writeString(Paths.get(s"${args.dump}/fingerprints.json"), fps.mkString("{\n", ",\n", "\n}\n"))
    val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s""""$k":"${Json.esc(v)}"""" }
    Files.writeString(Paths.get(s"${args.dump}/oracle_sql.json"), oracle.mkString("{", ",\n", "}"))
  }

  // ---- traced run ----

  private val memoKinds = Seq("cls_features", "cls_raw", "decontam_report", "documents",
    "funnel_flags", "fuzzy_decon", "minhash_cand", "tf2_bigram", "tf_unigram", "tfb_dsir", "ts")

  /** One traced pass: per-query layer numbers, summed into `acc`; queries
    * that throw are added to `failed`. Returns the pass wall time without
    * the waits for the listener bus.
    */
  private def tracedPass(tr: Tracer, probe: SparkProbe, label: String,
                         acc: mutable.LinkedHashMap[String, Double],
                         failed: mutable.Set[String]): Double = {
    def add(k: String, v: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + v
    var settleS = 0.0
    val t0 = System.nanoTime()
    rng.shuffle(names).foreach { n =>
      val m0 = probe.mark()
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val memo0 = memoKinds.map(SessionMemo.buildCount).sum
      val q0Ms = System.currentTimeMillis()
      var planEndMs = q0Ms
      var execEndMs = q0Ms
      var idleS = 0.0
      var execId = tr.lastId + 1
      val err = tr.span("query", s"$label/$n") {
        try {
          val df = tr.span("operators.plan", n)(fns(n)(spark, dir))
          planEndMs = System.currentTimeMillis()
          execId = tr.lastId + 1
          idleS = probe.idleSeconds(tr.span("execute", n)(df.write.format("noop").mode("overwrite").save()))._2
          execEndMs = System.currentTimeMillis()
          None
        } catch { case e: Throwable => Some(e) } finally CachedRdds.drain()
      }
      val s0 = System.nanoTime()
      probe.settle(minQes = m0.qes + 1)
      settleS += (System.nanoTime() - s0) / 1e9
      val w = probe.window(m0, probe.mark())
      err.foreach { e => System.err.println(s"[perfbench] $n failed: $e"); failed += n }
      val execJobs = w.jobs.filter(_.startMs >= planEndMs)
      execJobs.foreach(j => tr.record("spark.job", n, execId, j.startMs, j.endMs))
      val jobWallMs = SparkProbe.unionMs(execJobs.map(j => (j.startMs, math.min(j.endMs, execEndMs))))
      add("operators.plan_build_s", (planEndMs - q0Ms) / 1e3)
      add("operators.eager_jobs", w.jobs.count(_.startMs < planEndMs))
      add("spark.job_wall_s", jobWallMs / 1e3)
      add("spark.outside_jobs_s", idleS)
      Seq("analysis", "optimization", "planning").foreach(p =>
        add(s"spark.${p}_s", w.qes.map(_.phases.getOrElse(p, 0.0)).sum))
      add("spark.codegen_compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)
      add("spark.jobs", w.jobs.size)
      add("spark.stages", w.stages)
      add("spark.tasks", w.tasks.size)
      add("spark.task_wait_s", w.tasks.map(probe.taskWaitMs).sum / 1e3)
      add("spark.executor_run_s", w.tasks.map(_.runMs).sum / 1e3)
      add("spark.executor_cpu_s", w.tasks.map(_.cpuNs).sum / 1e9)
      add("spark.gc_s", w.tasks.map(_.gcMs).sum / 1e3)
      add("spark.shuffle_write_bytes", w.tasks.map(_.shuffleWrite).sum)
      add("spark.shuffle_read_bytes", w.tasks.map(_.shuffleRead).sum)
      add("spark.spill_bytes", w.tasks.map(_.spill).sum)
      w.qes.lastOption.foreach(q => SparkProbe.signature(q.plan).foreach { case (k, v) => add(k, v) })
      add("core.memo_builds", memoKinds.map(SessionMemo.buildCount).sum - memo0)
    }
    (System.nanoTime() - t0) / 1e9 - settleS
  }

  def runTraced(probe: SparkProbe, res: Result): Unit = {
    val tr = new Tracer(true)
    val acc = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.Set.empty[String]
    val coldWall = tracedPass(tr, probe, "cold", acc, failed)
    val warmWall = tracedPass(tr, probe, "warm", acc, failed)
    val (plainWall, plainQ) = pass()
    failed ++= plainQ.collect { case (n, (_, Some(_))) => n }
    acc.foreach { case (k, v) =>
      res.metric(k, v, if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "B" else "count")
    }
    res.metric("core.memo_bytes", memoKinds.flatMap(SessionMemo.heldBytes).sum.toDouble, "B")
    // the pass wall is timed around the whole pass, outside the per-query
    // spans, and outside_jobs_s is sampled rather than derived from the job
    // intervals: gaps between spans, or an error in either source, move the
    // coverage off 1
    val covered = Seq("operators.plan_build_s", "spark.job_wall_s", "spark.outside_jobs_s").map(acc(_)).sum
    res.metric("trace.coverage", covered / (coldWall + warmWall), "ratio")
    res.metric("trace.overhead_s", warmWall - plainWall, "s")
    kernels(res)
    res.trace = tr.json
    res.attempt(names.size, failed.size)
  }

  /** `functions.<name>_s`: each fixed-name SQL function over the documents
    * and embeddings tables, replicated 100 times and cached, through the
    * noop sink; median of three runs.
    */
  private def kernels(res: Result): Unit = {
    import graft.functions._
    Seq[SparkSession => Unit](PolyHash.register, GramHashes.register, SlidingMin.register,
      TokenRepStats.register, CharBigramStats.register, SubwordCount.register,
      IntersectCountSorted.register, CosineSimilarity.register, HyperplaneSignature.register,
      Int8Ops.register, VectorSum.register).foreach(_(spark))
    val copies = "explode(sequence(1, 100)) AS copy"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "text", "split(text, ' ') AS ts", copies)
      .selectExpr("*", "transform(ts, w -> poly_hash(w)) AS hs")
      .selectExpr("*", "array_sort(array_distinct(hs)) AS sa",
        "array_sort(array_distinct(slice(hs, 2, size(hs)))) AS sb")
      .filter("size(ts) >= 3").persist()
    val q = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("CAST(embedding AS ARRAY<DOUBLE>) AS qv").limit(1)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .selectExpr("label", "CAST(embedding AS ARRAY<DOUBLE>) AS v", copies).crossJoin(q)
      .selectExpr("*", "pack_int8(v) AS q8", "pack_int8(qv) AS p8").persist()
    docs.count(); vecs.count()
    val cases = Seq(
      "poly_hash" -> (docs, "poly_hash(text)"),
      "gram_hashes" -> (docs, "gram_hashes(ts, 3)"),
      "sliding_min" -> (docs, "sliding_min(hs, 4)"),
      "token_rep_stats" -> (docs, "token_rep_stats(text)"),
      "char_bigram_stats" -> (docs, "char_bigram_stats(text)"),
      "subword_count" -> (docs, "subword_count(text)"),
      "intersect_count_sorted" -> (docs, "intersect_count_sorted(sa, sb)"),
      "cosine_similarity" -> (vecs, "cosine_similarity(v, qv)"),
      "hyperplane_sig" -> (vecs, "hyperplane_sig(v, 64, 42L)"),
      "pack_int8" -> (vecs, "pack_int8(v)"),
      "int8_cos_q" -> (vecs, "int8_cos_q(q8, qv)"),
      "int8_cos_qq" -> (vecs, "int8_cos_qq(q8, p8)"))
    cases.foreach { case (fn, (df, e)) =>
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.selectExpr(e).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      res.metric(s"functions.${fn}_s", Stats.median(runs), "s")
    }
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      vecs.groupBy("label").agg(expr("vector_sum(v)")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    res.metric("functions.vector_sum_s", Stats.median(runs), "s")
    docs.unpersist(); vecs.unpersist()
  }
}

object Queries {
  val llm: Seq[String] = Seq(
    "q_c48_substr_dedup", "q_b6_jaccard_neardup", "q_c1_minhash_lsh", "q_b7_cosine_topk",
    "q_c14_repetition", "q_c12_bm25", "q_c24_decontaminate", "q_c66_minhash_stored")

  /** The tables those queries read. */
  val tables: Seq[String] = Seq("documents", "embeddings")

  /** Warm passes per run, at least; the first two are not counted. */
  val WarmPasses = 6

  /** Canonical form of a column: floating values as 10 significant digits,
    * so partial-sum order cannot change the fingerprint.
    */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) => struct(fs.toIndexedSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => to_json(c)
    case _ => c
  }

  /** Row count plus the order-independent sum of per-row hashes. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.indices.map(i => s"c$i")
    val d = df.toDF(cols: _*)
    val hashed = d.select(xxhash64(cols.zip(df.schema.fields).map { case (c, f) =>
      canon(col(c), f.dataType) }: _*).cast(DecimalType(38, 0)).as("h"))
    val r = hashed.agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0)))).head()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  /** `{"q": {"rows": n, "hash": "h", ...}}` as name -> (rows, hash). */
  def readFingerprints(path: String): Map[String, (Long, String)] = {
    val entry = """"(q_[a-z0-9_]+)"\s*:\s*\{([^}]*)\}""".r
    val rows = """"rows"\s*:\s*(\d+)""".r
    val hash = """"hash"\s*:\s*"(-?\d+)"""".r
    entry.findAllMatchIn(Files.readString(Paths.get(path))).flatMap { m =>
      for (r <- rows.findFirstMatchIn(m.group(2)); h <- hash.findFirstMatchIn(m.group(2)))
        yield m.group(1) -> (r.group(1).toLong, h.group(1))
    }.toMap
  }
}
