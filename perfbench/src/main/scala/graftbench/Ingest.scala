package graftbench

import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.ReentrantReadWriteLock

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.GraftSession
import graft.operators.{Ann, ScalarOps}
import graft.sources.{WalBinary, WalSource}
import org.apache.spark.sql.Row

import Harness._

/** ingest_mixed: one writer and three readers on one persisted IVF
  * index. The writer logs each batch as a reference-framed WAL segment
  * (`WalBinary.frame`, `logid|version|optype|json`), fsyncs it, then
  * applies it (`Ann.ivfIndexUpsert` / `Ann.ivfIndexDelete`); the batch
  * is acknowledged when both are done. Readers run IVF searches and
  * look up recently acknowledged ids. After the window the run replays
  * the WAL in a fresh session (`WalBinary.readFramed` ->
  * `WalSource.parse` -> `WalSource.replayTombstones`) and checks the
  * replayed state and the index against every acknowledged write.
  *
  * The index holds `(id, vec)`: `ivfIndexUpsert` rewrites touched cells
  * as `(id, vec, cell)`, so a payload column would survive only in
  * untouched cells. Labels travel in the WAL (`int_field`) and are
  * checked there.
  *
  * Reads and publishes share one index directory, and a publish
  * (dynamic-overwrite of the touched cells) deletes files that a
  * concurrent scan may already have listed; such a scan fails with
  * `FAILED_READ_FILE.FILE_NOT_EXIST`. The library gives no snapshot
  * isolation here, so the harness plays the part of the serving layer
  * and guards the index with a fair read-write lock: each read request
  * holds it shared, each publish exclusively. The WAL write stays
  * outside the lock. Time spent waiting for the lock is part of each
  * operation's latency.
  */
object IngestMixed {
  val N = ServePoint.N
  val K = 10
  val UpsertRows = 256
  val DeleteRows = 64
  val UserBytesPerRow = 8 + 4 * Gen.Dim

  /** One acknowledged state of an id: its vector and label, or a delete. */
  private final case class Ver(version: Long, vec: Option[Array[Float]], label: Int)

  private final class Model {
    val history = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Ver]]
    val live = mutable.LinkedHashMap.empty[Long, Ver]
    val liveIds = mutable.ArrayBuffer.empty[Long]
    val recent = mutable.ArrayBuffer.empty[Long]
    def ack(vs: Seq[(Long, Ver)]): Unit = synchronized {
      vs.foreach { case (id, v) =>
        history.getOrElseUpdate(id, mutable.ArrayBuffer.empty) += v
        if (v.vec.isEmpty) live.remove(id) else live(id) = v
      }
      liveIds.clear(); liveIds ++= live.keys
      recent ++= vs.map(_._1)
      if (recent.length > 2048) recent.remove(0, recent.length - 2048)
    }
    def ackedVersion(id: Long): Long = synchronized {
      history.get(id).map(_.last.version).getOrElse(-1L)
    }
    def pickRecent(r: java.util.SplittableRandom, n: Int): Seq[Long] = synchronized {
      Seq.fill(n)(recent(r.nextInt(recent.length))).distinct
    }
    def pickLive(r: java.util.SplittableRandom, n: Int): Seq[Long] = synchronized {
      Iterator.continually(liveIds(r.nextInt(liveIds.length))).distinct.take(n).toSeq
    }
    def versions(id: Long): Seq[Ver] = synchronized {
      history.get(id).map(_.toSeq).getOrElse(Nil)
    }
  }

  private def walLine(logId: Long, version: Long, id: Long, v: Option[Array[Float]],
                      label: Int): String = v match {
    case Some(vec) =>
      s"""$logId|$version|upsert|{"id":$id,"vectors":[${vec.mkString(",")}],"int_field":$label,"indexType":"IVF"}"""
    case None => s"""$logId|$version|delete|{"id":$id}"""
  }

  /** Write a segment durably: temp file, fsync, rename, fsync the dir.
    * Only a renamed segment counts as acknowledged.
    */
  private def writeSegment(dir: Path, seq: Long, lines: Seq[String]): Long = {
    val bytes = WalBinary.frame(lines)
    val tmp = dir.resolve(f"seg-$seq%08d.tmp")
    val ch = FileChannel.open(tmp, StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try { ch.write(java.nio.ByteBuffer.wrap(bytes)); ch.force(true) } finally ch.close()
    Files.move(tmp, dir.resolve(f"seg-$seq%08d.log"), StandardCopyOption.ATOMIC_MOVE)
    val d = FileChannel.open(dir, StandardOpenOption.READ)
    try d.force(true) finally d.close()
    bytes.length.toLong
  }

  private def listFiles(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally st.close()
    }

  def run(ctx: Ctx, setupS: Seq[Double]): Outcome = {
    val s = ctx.spark
    import s.implicits._
    val corpus = new Corpus(ctx.seed, N)
    val (reps, dir) = timedReps(setupS.length) { r =>
      val d = s"${ctx.work}/ingest-$r"
      corpus.write(s, d, 2 * ctx.cores)
      Ann.ivfBuildIndex(s, corpus.table(s, d).select("id", "vec"), s"$d/ivf")
      val wal = Files.createDirectories(Paths.get(s"$d/wal"))
      (0 until N by 5000).foreach { from =>
        writeSegment(wal, from / 5000, (from until math.min(N, from + 5000)).map(i =>
          walLine(i, 0, i, Some(Gen.vec(ctx.seed, corpus.centres, i)), Gen.label(ctx.seed, i))))
      }
      d
    }
    val setup_s = median(setupS.zip(reps).map { case (a, b) => a + b })
    val index = s"$dir/ivf"
    val walDir = Paths.get(s"$dir/wal")
    val model = new Model
    model.ack((0 until N).map(i => i.toLong ->
      Ver(0, Some(Gen.vec(ctx.seed, corpus.centres, i)), Gen.label(ctx.seed, i))))

    var nextId = N.toLong
    var nextLog = N.toLong
    var walBytes = 0L
    var userBytes = 0L
    val publish = new ConcurrentLinkedQueue[(Long, Long, Int, Int)]() // bytes, user bytes, files, cells
    val reads = new ConcurrentLinkedQueue[(String, Array[Float], Map[Long, Long], Array[Row])]()
    val indexLock = new ReentrantReadWriteLock(true)
    def locked[T](l: java.util.concurrent.locks.Lock)(f: => T): T = {
      l.lock()
      try f finally l.unlock()
    }

    def write(i: Long): Option[Op] = {
      val version = i + 1
      val r = Gen.rng(ctx.seed, 300, i)
      val del = (i + 1) % 5 == 0
      val batch: Seq[(Long, Ver)] =
        if (del) model.pickLive(r, DeleteRows).map(id => id -> Ver(version, None, 0))
        else {
          val old = model.pickLive(r, (UpsertRows * 0.7).toInt)
          val fresh = (0 until UpsertRows - old.length).map { _ => nextId += 1; nextId - 1 }
          (old ++ fresh).map(id => id -> Ver(version,
            Some(Gen.vec(ctx.seed, corpus.centres, id, version)), Gen.label(ctx.seed, id, version)))
        }
      val before = if (ctx.tracer.isDefined) listFiles(Paths.get(index)) else Map.empty[String, Long]
      val req = ctx.newReq(if (del) "delete" else "upsert")
      val t0 = System.nanoTime()
      try {
        ctx.traced(req) {
          val lines = batch.map { case (id, v) => nextLog += 1; walLine(nextLog, version, id, v.vec, v.label) }
          walBytes += ctx.phase(req, "wal")(writeSegment(walDir, 1000000 + i, lines))
          locked(indexLock.writeLock())(ctx.phase(req, "publish") {
            if (del) Ann.ivfIndexDelete(s, index, batch.map(_._1).toDF("id"))
            else Ann.ivfIndexUpsert(s, index,
              batch.map { case (id, v) => (id, v.vec.get, version) }.toDF("id", "vec", "version"))
          })
        }
        val ms = (System.nanoTime() - t0) / 1e6
        model.ack(batch)
        val ub = batch.length.toLong * UserBytesPerRow
        userBytes += ub
        if (ctx.tracer.isDefined) {
          val after = listFiles(Paths.get(index))
          val added = after.filter { case (f, _) => !before.contains(f) }
          val cellsOf = (m: Map[String, Long]) => m.keys.groupBy(_.takeWhile(_ != '/')).view.mapValues(_.toSet).toMap
          val (cb, ca) = (cellsOf(before), cellsOf(after))
          val touched = (cb.keySet ++ ca.keySet).count(c => cb.get(c) != ca.get(c))
          publish.add((added.values.sum, ub, added.size, touched))
        }
        ctx.outcome(true)
        Some(Op(if (del) "delete" else "upsert", ms, batch.length))
      } catch {
        case e: Exception =>
          ctx.errored("write", e)
          None
      }
    }

    def read(c: Int, i: Long): Option[Op] = {
      val r = Gen.rng(ctx.seed, 400 + c, i)
      val ivf = i % 2 == 0
      val q = Gen.query(ctx.seed, corpus.centres, 400 + c, i, N)
      val ids = if (ivf) Nil else model.pickRecent(r, 1 + r.nextInt(10))
      val seen = ids.map(id => id -> model.ackedVersion(id)).toMap
      val t0 = System.nanoTime()
      try {
        val rows = locked(indexLock.readLock()) {
          ctx.request(ctx.newReq(if (ivf) "ivf" else "lookup")) {
            if (ivf) Ann.ivfSearchIndexed(s, index, Seq((i, q)).toDF("qid", "qvec"), K)
            else ScalarOps.pointLookup(s.read.parquet(index), "id", ids).select("id", "vec")
          }
        }
        val ms = (System.nanoTime() - t0) / 1e6
        reads.add((if (ivf) "ivf" else "lookup", q, seen, rows))
        Some(Op(if (ivf) "read_ivf" else "read_lookup", ms, 1, rows.length))
      } catch {
        case e: Exception =>
          ctx.errored("read", e)
          None
      }
    }

    val (ops, wall, layers, _) = Traced.loop(ctx, 4, 1,
      (c, i) => if (c == 0) write(i) else read(c, i), primary = _ == "upsert")

    // read checks: every answer must come from an acknowledged (or, for
    // a read racing the writer, a later) version of each id
    reads.asScala.foreach {
      case ("ivf", q, _, rows) =>
        val got = rows.map(x => (x.getAs[Long]("nn_id"), x.getAs[Double]("score")))
        ctx.outcome(got.length == K && got.map(_._1).distinct.length == K &&
          got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)) &&
          got.forall { case (id, sc) => model.versions(id).exists(v =>
            v.vec.exists(x => Reference.round4(Reference.cosine(x, q)) == sc)) })
      case (_, _, seen, rows) =>
        val got = rows.map(x => x.getAs[Long]("id") -> x.getAs[scala.collection.Seq[Float]]("vec").toArray)
        val byId = got.groupBy(_._1)
        ctx.outcome(byId.values.forall(_.length == 1) && seen.forall { case (id, v0) =>
          val later = model.versions(id).filter(_.version >= v0)
          byId.get(id) match {
            case Some(Array((_, vec))) => later.exists(_.vec.exists(_.sameElements(vec)))
            case _ => later.exists(_.vec.isEmpty)
          }
        })
    }

    // durability and recovery: drop unacknowledged segments, then
    // rebuild the live state from the WAL alone in a fresh session
    Files.list(walDir).iterator().asScala.filter(_.toString.endsWith(".tmp")).foreach(Files.delete)
    s.stop()
    val s2 = GraftSession.builder(ctx.cores.toString)
      .config("spark.local.dir", s"${ctx.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${ctx.work}/warehouse")
      .getOrCreate()
    s2.sparkContext.setLogLevel("ERROR")
    try {
      val t0 = System.nanoTime()
      val replayed = WalSource.replayTombstones(WalSource.parse(
        WalBinary.readFramed(s2, s"$walDir/*.log"))).collect()
      val recovery_s = (System.nanoTime() - t0) / 1e9
      val live = model.live
      val rep = replayed.map(x => x.getAs[Long]("id") ->
        ((x.getAs[Long]("int_field"), x.getAs[Long]("version")))).toMap
      ctx.outcome(rep.size == replayed.length && rep.keySet == live.keySet &&
        live.forall { case (id, v) => rep(id) == ((v.label.toLong, v.version)) })
      val idx = s2.read.parquet(index).select("id", "vec").collect()
        .map(x => x.getAs[Long]("id") -> x.getAs[scala.collection.Seq[Float]]("vec").toArray)
      ctx.outcome(idx.length == live.size && idx.forall { case (id, vec) =>
        live.get(id).exists(_.vec.exists(_.sameElements(vec))) })

      val (files, bytes) = Seq(index, s"${index}_centroids", s"${index}_planstats",
          s"${index}_planstats_meta").map(p => dirBytes(Paths.get(p)))
        .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      val spaceAmp = bytes.toDouble / (live.size.toLong * UserBytesPerRow)
      val ups = ops.filter(o => o.kind == "upsert" || o.kind == "delete")
      val upMs = ops.filter(_.kind == "upsert").map(_.ms)
      val (tailMs, tailP, tailN) = tail(upMs)
      val rowsPerS = rate(ups, _.units)
      val pub = publish.asScala.toSeq
      val nb = math.max(1, pub.length).toDouble
      val extra = if (!ctx.traced) Nil else Seq(
        ("publish.bytes_written_per_user_byte",
          if (pub.isEmpty) 0.0 else pub.map(_._1).sum.toDouble / pub.map(_._2).sum, "ratio"),
        ("publish.files_written_per_batch", pub.map(_._3).sum / nb, "count"),
        ("publish.cells_touched_per_batch", pub.map(_._4).sum / nb, "count"),
        ("index.files_total", files.toDouble, "count"),
        ("index.bytes_total", bytes.toDouble, "bytes"),
        ("wal.bytes_per_user_byte", if (userBytes == 0) 0.0 else walBytes.toDouble / userBytes, "ratio"),
        ("wal.replay_ms", recovery_s * 1000, "ms"))
      Outcome(
        e2e = Seq(("setup_s", setup_s, "s"), ("work_per_s", rowsPerS, "1/s")),
        named = Seq(("upsert_p50_ms", median(upMs), "ms"), ("upsert_tail_ms", tailMs, "ms"),
          ("upsert_rows_per_s", rowsPerS, "rows/s"),
          ("read_ivf_p50_ms", median(ops.filter(_.kind == "read_ivf").map(_.ms)), "ms"),
          ("read_lookup_p50_ms", median(ops.filter(_.kind == "read_lookup").map(_.ms)), "ms"),
          ("recovery_s", recovery_s, "s"), ("space_amp", spaceAmp, "ratio")),
        layers = layers ++ extra,
        info = Seq("tail_percentile" -> num(tailP), "tail_samples" -> tailN.toString,
          "batches" -> ups.length.toString, "live_rows" -> live.size.toString,
          "window_s" -> num(wall)))
    } finally s2.stop()
  }
}
