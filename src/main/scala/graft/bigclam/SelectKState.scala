package graft.bigclam

import java.io.{File, FileInputStream, FileOutputStream}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-resumable state for [[BigClam.selectKSparse]] walks (round-17
  * item 3). A long unattended K-grid walk is hours of wall-clock (the
  * recorded v3-magnitude capstone: 5,733.6 s for three grid points, and
  * its first two attempts died to ENVIRONMENT — disk spill, a concurrent
  * JVM — not to the model). Restarting such a walk from zero re-pays
  * every completed fit. This store persists each completed grid point as
  * it lands — the cross-JVM analog of what [[graft.ops.IncrementalDedup]]
  * does for dedup state:
  *
  *  - `meta.properties` — the walk parameters that determine the curve
  *    (grid spec, kTol, fit budget, init mode, criterion...). A resume
  *    with different parameters would silently splice two different
  *    walks, so a mismatch fails loudly. `escalateCap` is deliberately
  *    NOT part of the identity: re-running a completed walk with a larger
  *    cap is the supported way to EXTEND it past a boundary pick.
  *  - `point_k<K>.properties` — one per completed grid point: the walk's
  *    per-K result, [[BigClam.SelectKPoint]] — final LLH, modularity q
  *    (NaN when the criterion never scored it), and the init provenance
  *    that replays [[BigClam.RaceMemory]] deterministically
  *    (requested/chosen side, both race LLHs, abandon iteration). The
  *    init's cover diagnostics are not stored.
  *  - `f_k<K>.parquet` — the fitted F frame for the point, so a resumed
  *    walk can RETURN a best fit that was computed in a previous process.
  *
  * Write order is F-parquet first, then the properties file via
  * temp-file + atomic rename — the properties file's existence implies a
  * complete point, so a crash mid-write leaves at worst an orphan parquet
  * directory that the next run overwrites. Nothing here is driver-memory
  * sized beyond one Properties object per grid point; F stays a
  * distributed parquet read on resume.
  */
final class SelectKStateStore(dir: String, spark: SparkSession) {
  private val root = new File(dir)
  root.mkdirs()

  private def propsOf(f: File): Properties = {
    val p = new Properties()
    val in = new FileInputStream(f)
    try p.load(in) finally in.close()
    p
  }

  private def writeProps(f: File, p: Properties, header: String): Unit = {
    val tmp = new File(f.getParentFile, f.getName + ".tmp")
    val out = new FileOutputStream(tmp)
    try p.store(out, header) finally out.close()
    if (!tmp.renameTo(f)) {
      // same-directory rename only fails on exotic filesystems; fall back
      // to a non-atomic move rather than losing the point
      java.nio.file.Files.move(tmp.toPath, f.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Pin the walk parameters: first use writes them, a resume verifies
    * them key-by-key and fails loudly on any drift. */
  def metaCheck(meta: Map[String, String]): Unit = {
    val f = new File(root, "meta.properties")
    if (f.exists()) {
      val p = propsOf(f)
      val drift = meta.filter { case (k, v) => p.getProperty(k) != v }
      require(drift.isEmpty,
        s"selectKSparse state dir $dir was written by a different walk: " +
          drift.map { case (k, v) =>
            s"$k=${p.getProperty(k)} (stored) vs $v (requested)" }
            .mkString("; "))
    } else {
      val p = new Properties()
      meta.foreach { case (k, v) => p.setProperty(k, v) }
      writeProps(f, p, "selectKSparse walk identity")
    }
  }

  private def pointFile(k: Int) = new File(root, s"point_k$k.properties")
  private def fPath(k: Int): String = new File(root, s"f_k$k.parquet").getPath

  /** The completed-point record, if this k finished in a prior process —
    * marked `replayed`, with `cover = None` in its init. */
  def get(k: Int): Option[BigClam.SelectKPoint] = {
    val f = pointFile(k)
    if (!f.exists()) None
    else {
      val p = propsOf(f)
      def opt(key: String): Option[String] = Option(p.getProperty(key))
      Some(BigClam.SelectKPoint(k,
        p.getProperty("llh").toDouble, p.getProperty("q").toDouble,
        BigClam.InitDiag(p.getProperty("requested"), p.getProperty("chosen"),
          None, opt("egoLlh").map(_.toDouble), opt("splitLlh").map(_.toDouble),
          opt("abandonedAt").map(_.toInt)),
        replayed = true))
    }
  }

  /** Lazy distributed read of a persisted point's fitted F. */
  def readF(k: Int): DataFrame = spark.read.parquet(fPath(k))

  /** Persist one completed point: F parquet first, then the (atomic)
    * properties record whose presence marks the point complete. */
  def put(p: BigClam.SelectKPoint, f: DataFrame): Unit = {
    f.write.mode("overwrite").parquet(fPath(p.k))
    val props = new Properties()
    props.setProperty("llh", p.llh.toString)
    props.setProperty("q", p.q.toString)
    props.setProperty("requested", p.init.requested)
    props.setProperty("chosen", p.init.chosen)
    p.init.egoLlh.foreach(v => props.setProperty("egoLlh", v.toString))
    p.init.splitLlh.foreach(v => props.setProperty("splitLlh", v.toString))
    p.init.abandonedAtIter.foreach(v => props.setProperty("abandonedAt", v.toString))
    writeProps(pointFile(p.k), props, s"grid point k=${p.k}")
  }
}
