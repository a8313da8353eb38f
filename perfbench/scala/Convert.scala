package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession

import graft.core.Geometry
import graft.core.Geometry.{Shape3, ShardTask, TrueShape}
import graft.plans.{Downsample, ImarisToZarr, PartialStore, ZarrRegion}
import graft.plans.ImarisToZarr.Settings
import graft.sinks.ZarrV3
import graft.sources.{Hdf5Reader, Imaris}

/** The two IMS -> OME-Zarr workloads, driven through `convertAll` and,
  * for the per-layer numbers, a single-threaded replay of the same shard
  * tasks through the public layer functions.
  */
final class Convert(spark: SparkSession, args: Args) {
  private val conf = new Configuration()
  private val tile = args.tile
  private val translate = args.workload == "convert-translate"

  val settings: Settings = Convert.settings(args.workload)
  private val stem = new File(tile).getName.stripSuffix(".ims")
  private val meta = Imaris.readMeta(tile, conf)
  private val factor = settings.scaleFactor
  private val trueShapes: Seq[Shape3] =
    if (translate) meta.trueShapes
    else Seq.fill(settings.computeLevels - 1)(factor).scanLeft(meta.trueShape0.shape)(Geometry.downsampledShape)
  private val specs = trueShapes.map(Geometry.clampSpec(_, settings.chunk, settings.shard))
  val rawBytes: Long = trueShapes.map(_.voxels * 2).sum

  private def convert(out: String, s: Settings): Seq[ImarisToZarr.ShardStats] =
    ImarisToZarr.convertAll(spark, Seq(tile), out, _ => s)

  // ---- reference store: built once per tile and program build, voxel-checked,
  // in a JVM of its own so that measured runs all start equally cold ----

  private val refRoot = s"${args.refDir}/${args.workload}-$stem"
  private def refStore = s"$refRoot/store/$stem.ome.zarr"

  /** Build (or reuse) the reference store and return the number of its
    * shards whose voxels disagree with the HDF5 source.
    */
  def ensureReference(): Long = {
    val marker = Paths.get(s"$refRoot/VERIFIED")
    if (Files.exists(marker)) return Files.readString(marker).trim.toLong
    Fs.delete(Paths.get(refRoot))
    // the pyramid reference takes the unfused path: same bytes, other plan
    convert(s"$refRoot/store", if (translate) settings else settings.copy(fuseDownsample = false))
    val bad = verifyVoxels(s"$refRoot/store/$stem.ome.zarr")
    Files.writeString(marker, bad.toString)
    bad
  }

  /** Compare each reference shard with the source: translated levels with
    * `Hdf5Reader.readRegion` of the same level, computed levels with the
    * mean reduction of the level below.
    */
  private def verifyVoxels(store: String): Long = {
    val r = new Hdf5Reader(tile, conf)
    try {
      var bad = 0L
      var prev: Array[Short] = null
      trueShapes.indices.foreach { l =>
        val ts = trueShapes(l)
        val expect =
          if (translate || l == 0) {
            val ds = r.openDataset(Imaris.dataPath(l))
            r.readRegion(ds, 0, ts.z, 0, ts.y, 0, ts.x)
          } else Downsample.reduce(prev, trueShapes(l - 1), ts, factor, settings.downsampleMode)
        val (chunk, shard) = specs(l)
        Geometry.shardTasks(tile, l, TrueShape(ts), shard).foreach { t =>
          val got = ZarrRegion.read(conf, s"$store/$l", ts, shard, chunk,
            t.z0, t.z1, t.y0, t.y1, t.x0, t.x1)
          var i = 0; var ok = true
          var z = t.z0
          while (z < t.z1 && ok) {
            var y = t.y0
            while (y < t.y1 && ok) {
              val base = ((z * ts.y + y) * ts.x).toInt
              var x = t.x0
              while (x < t.x1 && ok) { ok = got(i) == expect(base + x.toInt); i += 1; x += 1 }
              y += 1
            }
            z += 1
          }
          if (!ok) bad += 1
        }
        prev = expect
      }
      bad
    } finally r.close()
  }

  /** Files of `store` that differ from (or are missing in) the reference. */
  def mismatches(store: String, shardsOnly: Boolean = false): Long = {
    val ref = Fs.files(Paths.get(refStore))
    val got = Fs.files(Paths.get(store))
    val keys = if (shardsOnly) ref.keySet.filter(_.contains("/c/")) else ref.keySet ++ got.keySet
    keys.count { k =>
      (ref.get(k), got.get(k)) match {
        case (Some(a), Some(b)) => !java.util.Arrays.equals(Files.readAllBytes(a), Files.readAllBytes(b))
        case _ => true
      }
    }.toLong
  }

  def shardCount: Int = specs.indices.map(l => Geometry.shardTasks(tile, l, TrueShape(trueShapes(l)), specs(l)._2).size).sum

  // ---- end-to-end run ----

  def run(res: Result): Unit = {
    res.attempt(shardCount, ensureReference())
    var i = 0
    def once(): Double = {
      val out = s"${args.scratch}/out-$i"; i += 1
      val t0 = System.nanoTime()
      val stats = convert(out, settings)
      val wall = (System.nanoTime() - t0) / 1e9
      Main.log(f"convertAll $i: $wall%.3f s")
      res.attempt(stats.size, mismatches(s"$out/$stem.ome.zarr"))
      Fs.delete(Paths.get(out))
      wall
    }
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    val cold = once()
    val warm = mutable.ArrayBuffer.empty[Double]
    while (warm.size < 4 || System.nanoTime() < deadline) warm += once()
    val warmS = Stats.median(warm.toSeq)
    res.metric("cold_s", cold, "s")
    res.metric("warm_s", warmS, "s")
    // one conversion is the unit a user waits for: its median latency is warm_s
    res.metric("p50_s", warmS, "s")
    res.metric("raw_MBps", rawBytes / 1e6 / warmS, "MB/s")
  }

  // ---- traced run ----

  def runTraced(probe: SparkProbe, res: Result): Unit = {
    res.attempt(shardCount, ensureReference())
    // one observed convertAll: wave and task shape as Spark ran it
    val out = s"${args.scratch}/observed"
    val m0 = probe.mark()
    val t0 = System.currentTimeMillis()
    val stats = convert(out, settings)
    val wall = (System.currentTimeMillis() - t0) / 1e3
    probe.settle()
    val w = probe.window(m0, probe.mark())
    res.attempt(stats.size, mismatches(s"$out/$stem.ome.zarr"))
    Fs.delete(Paths.get(out))
    val durs = w.tasks.map(t => (t.finishMs - t.launchMs) / 1e3)
    val waveWall = w.jobs.map(j => (j.endMs - j.startMs) / 1e3).sum
    res.metric("plans.waves", w.jobs.size, "count")
    res.metric("plans.tasks", w.tasks.size, "count")
    res.metric("plans.task_p50_s", Stats.median(durs), "s")
    res.metric("plans.task_max_s", if (durs.isEmpty) 0.0 else durs.max, "s")
    res.metric("plans.occupancy", w.tasks.map(_.runMs / 1e3).sum / math.max(1e-9, waveWall * args.cores), "ratio")
    res.metric("plans.executor_cpu_s", w.tasks.map(_.cpuNs / 1e9).sum, "s")
    res.metric("plans.gc_s", w.tasks.map(_.gcMs / 1e3).sum, "s")
    res.metric("plans.task_failures", w.tasks.count(_.failed), "count")
    res.metric("plans.convert_s", wall, "s")
    res.metric("sinks.stored_ratio", stats.map(_.bytesWritten).sum.toDouble / rawBytes, "ratio")

    // single-threaded replay of the same shard tasks: untraced (warm-up),
    // traced, then untraced again as the baseline of the tracing overhead
    def plain(): Double = {
      val t0 = System.nanoTime()
      replay(new Tracer(false), s"${args.scratch}/replay-plain")
      Fs.delete(Paths.get(s"${args.scratch}/replay-plain"))
      (System.nanoTime() - t0) / 1e9
    }
    plain()
    val tr = new Tracer(true)
    val store = s"${args.scratch}/replay"
    tr.span("plans.serial", "replay")(replay(tr, store))
    res.attempt(shardCount, mismatches(s"$store/$stem.ome.zarr", shardsOnly = true))
    Fs.delete(Paths.get(store))
    val plainS = plain()
    val self = tr.selfSeconds
    val serialS = tr.total("plans.serial")
    val layers = Seq("sources.meta", "sources.index", "sources.read", "plans.downsample",
      "plans.partial_write", "plans.partial_read", "sinks.encode", "sinks.write")
    layers.foreach(l => res.metric(s"${l}_s", self.getOrElse(l, 0.0), "s"))
    Seq("sources.chunks" -> "count", "sources.file_bytes" -> "B", "plans.partial_bytes" -> "B",
      "sinks.chunks" -> "count", "sinks.bytes" -> "B").foreach { case (c, u) =>
      res.metric(c, tr.counter(c), u)
    }
    res.metric("plans.serial_s", serialS, "s")
    res.metric("trace.coverage", layers.map(self.getOrElse(_, 0.0)).sum / serialS, "ratio")
    res.metric("trace.overhead_s", serialS - plainS, "s")
    res.trace = tr.json
  }

  /** Every shard task of the workload, one after another, in wave order:
    * the same public calls the Spark tasks make, each wrapped in a span.
    */
  private def replay(tr: Tracer, out: String): Unit = {
    val store = s"$out/$stem.ome.zarr"
    tr.span("sources.meta", "plan")(Imaris.readMeta(tile, conf))
    val reader = new Hdf5Reader(tile, conf)
    val scratch = new PartialStore.Scratch
    var buf = Array.emptyShortArray
    var partial = Array.emptyShortArray
    var src = Array.emptyShortArray
    def grow(a: Array[Short], n: Long): Array[Short] = if (a.length < n) new Array[Short](n.toInt) else a
    def fuses(level: Int): Boolean = {
      val s = specs(level)._2
      !translate && settings.fuseDownsample && settings.computeLevels >= level + 2 &&
        s.z % factor.z == 0 && s.y % factor.y == 0 && s.x % factor.x == 0
    }
    def partialPath(level: Int, t: ShardTask) = s"$store/$level/.partial/${t.sz}_${t.sy}_${t.sx}"

    def emit(l: Int, t: ShardTask, data: Array[Short], id: String): Unit = {
      val (chunk, shard) = specs(l)
      val shape = Shape3(t.z1 - t.z0, t.y1 - t.y0, t.x1 - t.x0)
      val bytes = tr.span("sinks.encode", id)(
        ZarrV3.encodeShard(data, shape, shard, chunk, settings.zstdLevel, settings.codecName))
      tr.span("sinks.write", id)(ZarrV3.write(conf, s"$store/$l/${ZarrV3.shardKey(t.sz, t.sy, t.sx)}", bytes))
      tr.count("sinks.chunks", Geometry.ceilDiv(shape.z, chunk.z) * Geometry.ceilDiv(shape.y, chunk.y) *
        Geometry.ceilDiv(shape.x, chunk.x))
      tr.count("sinks.bytes", bytes.length)
      if (fuses(l)) {
        val p = Shape3(Geometry.ceilDiv(t.z1, factor.z) - t.z0 / factor.z,
          Geometry.ceilDiv(t.y1, factor.y) - t.y0 / factor.y,
          Geometry.ceilDiv(t.x1, factor.x) - t.x0 / factor.x)
        partial = grow(partial, p.voxels)
        tr.span("plans.downsample", id)(
          Downsample.reduceInto(data, shape, p, factor, settings.downsampleMode, partial))
        val path = partialPath(l + 1, t)
        tr.span("plans.partial_write", id)(PartialStore.write(conf, path, partial, p, scratch))
        tr.count("plans.partial_bytes", new File(path).length)
      }
    }

    try {
      // read wave: every level read from HDF5
      val readLevels = if (translate) trueShapes.indices else Seq(0)
      readLevels.foreach { l =>
        val ds = tr.span("sources.index", s"L$l")(reader.openDataset(Imaris.dataPath(l)))
        Geometry.shardTasks(tile, l, TrueShape(trueShapes(l)), specs(l)._2).foreach { t =>
          val id = s"$l/${ZarrV3.shardKey(t.sz, t.sy, t.sx)}"
          tr.span("task", id) {
            buf = grow(buf, (t.z1 - t.z0) * (t.y1 - t.y0) * (t.x1 - t.x0))
            tr.span("sources.read", id)(reader.readRegionInto(ds, t.z0, t.z1, t.y0, t.y1, t.x0, t.x1, buf))
            if (tr.enabled) countSourceChunks(tr, ds, t)
            emit(l, t, buf, id)
          }
        }
      }
      // compute waves: each level from the partials (or the store) below
      if (!translate) (1 until settings.computeLevels).foreach { l =>
        val ts = trueShapes(l)
        val (srcChunk, srcShard) = specs(l - 1)
        val srcShape = trueShapes(l - 1)
        Geometry.shardTasks(tile, l, TrueShape(ts), specs(l)._2).foreach { t =>
          val id = s"$l/${ZarrV3.shardKey(t.sz, t.sy, t.sx)}"
          tr.span("task", id) {
            val shape = Shape3(t.z1 - t.z0, t.y1 - t.y0, t.x1 - t.x0)
            buf = grow(buf, shape.voxels)
            if (fuses(l - 1)) {
              val g = srcShard
              Geometry.shardTasks(tile, l - 1, TrueShape(srcShape), g)
                .filter(s => s.z0 < t.z1 * factor.z && s.z1 > t.z0 * factor.z &&
                  s.y0 < t.y1 * factor.y && s.y1 > t.y0 * factor.y &&
                  s.x0 < t.x1 * factor.x && s.x1 > t.x0 * factor.x)
                .foreach { s =>
                  val p = Shape3(Geometry.ceilDiv(s.z1, factor.z) - s.z0 / factor.z,
                    Geometry.ceilDiv(s.y1, factor.y) - s.y0 / factor.y,
                    Geometry.ceilDiv(s.x1, factor.x) - s.x0 / factor.x)
                  src = grow(src, p.voxels)
                  tr.span("plans.partial_read", id)(PartialStore.readInto(conf, partialPath(l, s), p, src, scratch))
                  copyInto(src, p, s.z0 / factor.z, s.y0 / factor.y, s.x0 / factor.x, buf, shape, t)
                }
            } else {
              val z0 = t.z0 * factor.z; val z1 = math.min(t.z1 * factor.z, srcShape.z)
              val y0 = t.y0 * factor.y; val y1 = math.min(t.y1 * factor.y, srcShape.y)
              val x0 = t.x0 * factor.x; val x1 = math.min(t.x1 * factor.x, srcShape.x)
              src = grow(src, (z1 - z0) * (y1 - y0) * (x1 - x0))
              tr.span("sinks.store_read", id)(
                ZarrRegion.readInto(conf, s"$store/${l - 1}", srcShape, srcShard, srcChunk, z0, z1, y0, y1, x0, x1, src))
              tr.span("plans.downsample", id)(Downsample.reduceInto(
                src, Shape3(z1 - z0, y1 - y0, x1 - x0), shape, factor, settings.downsampleMode, buf))
            }
            emit(l, t, buf, id)
          }
        }
      }
    } finally reader.close()
    (1 until settings.computeLevels).foreach(l => Fs.delete(Paths.get(s"$store/$l/.partial")))
  }

  /** Copy the part of partial `p` (origin o*) that falls inside task `t`. */
  private def copyInto(p: Array[Short], ps: Shape3, oz: Long, oy: Long, ox: Long,
                       dst: Array[Short], ds: Shape3, t: ShardTask): Unit = {
    val zLo = math.max(t.z0, oz); val zHi = math.min(t.z1, oz + ps.z)
    val yLo = math.max(t.y0, oy); val yHi = math.min(t.y1, oy + ps.y)
    val xLo = math.max(t.x0, ox); val xHi = math.min(t.x1, ox + ps.x)
    var z = zLo
    while (z < zHi) {
      var y = yLo
      while (y < yHi) {
        System.arraycopy(p, (((z - oz) * ps.y + (y - oy)) * ps.x + (xLo - ox)).toInt,
          dst, (((z - t.z0) * ds.y + (y - t.y0)) * ds.x + (xLo - t.x0)).toInt, (xHi - xLo).toInt)
        y += 1
      }
      z += 1
    }
  }

  private def countSourceChunks(tr: Tracer, ds: Hdf5Reader.Dataset, t: ShardTask): Unit = {
    val (cz, cy, cx) = (ds.chunk(0).toLong, ds.chunk(1).toLong, ds.chunk(2).toLong)
    for (gz <- t.z0 / cz to (t.z1 - 1) / cz; gy <- t.y0 / cy to (t.y1 - 1) / cy;
         gx <- t.x0 / cx to (t.x1 - 1) / cx)
      ds.chunkIndex.get((gz * cz, gy * cy, gx * cx)).foreach { case (_, len) =>
        tr.count("sources.chunks", 1); tr.count("sources.file_bytes", len)
      }
  }
}

object Convert {
  /** Reference config: shard 256³ (see NOTES.md), chunk 128³, zstd-3, Zarr v3. */
  def settings(workload: String): Settings = {
    val base = Settings(shard = Shape3(256, 256, 256), chunk = Shape3(128, 128, 128),
      zstdLevel = 3, codecName = "zstd", zarrFormat = 3)
    if (workload == "convert-translate") base.copy(translatePyramid = true)
    else base.copy(translatePyramid = false, computeLevels = 3, downsampleMode = "mean")
  }
}

object Fs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** Regular files under `root`, keyed by relative path. */
  def files(root: Path): Map[String, Path] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> p).toMap
      finally s.close()
    }
}
