package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted-state incremental dedup — the production new-batch flow behind
  * [[TextOps.q_dedup_incremental]] (whose oracle-checked query answers the
  * same question with an in-table split stand-in). Here the corpus index is
  * REAL STATE on disk, appended batch after batch, so a daily-crawl pipeline
  * can dedup each arrival against everything previously accepted without
  * ever re-reading the historical corpus text:
  *
  *   state/hashes    (h)                md5 of every accepted doc
  *   state/postings  (shingle, doc_id)  distinct 5-gram shingle postings of
  *                                      every accepted doc
  *   state/decisions (batch, doc_id, is_exact_dup, n_near, keep)
  *
  * Per batch: in-batch exact dedup (keep min doc_id per md5) → exact check
  * against the index hash set (one semi-join — linear, the batch side tiny)
  * → near-dup check against the index (rare-shingle blocking with the band
  * on INDEX df ∈ [1, 10] — boilerplate is a corpus statistic, so a batch's
  * own replication can never mask a family's shingles out of the cross
  * band) AND against lower-doc_id batchmates (df ∈ [2, 10] over index+batch
  * postings together, the same band the oracle-checked queries use),
  * plus a batch-internal MIN-ANCHOR generator for near-families too
  * large for the rare band (a shingle in 11+ batch docs pairs each holder
  * with the shingle's min batch doc_id — linear in postings; see the
  * generator-2 comment) → exact Jaccard ≥ 0.5 verification over full
  * posting lists → survivors appended to the index. In-batch near
  * semantics are pairwise min-id-keeper (the higher doc_id of every
  * verified near pair is dropped), so an A<B<C chain with A~B, B~C, A̸~C
  * drops BOTH B and C — the same greedy chain rule q_dedup_cluster uses,
  * chosen over accepted-only comparison because it is order-free and
  * one-pass.
  *
  * Scale stance (100 TB corpus, daily batches): state is linear in the
  * ACCEPTED corpus (hash set + shingle postings — the inverted index every
  * production dedup service keeps); each batch costs one semi-join keyed on
  * md5 plus one df-bounded blocked pair generation (≤ 10 docs per rare
  * shingle by construction ⇒ ≤ 100 cross pairs per shingle) plus posting-
  * list joins for the proposed pairs only. Nothing is collected; nothing is
  * quadratic in either corpus or batch.
  */
object IncrementalDedup {

  /** Persisted-postings format version. Bumped whenever the posting key
    * changes in a way parquet schema alone can't catch: v2 = r17's 128-bit
    * struct<h1,h2> (h2 seed-chained from h1), v3 = r18's independent h2
    * (see TextKernels.hashedShingles — the chained form was effectively a
    * 64-bit key). A state dir written by an older version has DIFFERENT
    * KEY VALUES for the same shingle, so mixing silently corrupts df
    * counts and Jaccard decisions; [[loadState]] fails fast instead. */
  private[graft] val PostingsVersion = "graft-postings-v3"
  private val VersionFile = "POSTINGS_FORMAT"

  /** The in-memory handle on the persisted index. `hashes` (h: string),
    * `postings` (shingle, doc_id). Batch-local frames work too (the
    * streaming foreachBatch path accumulates state between micro-batches
    * without touching disk). */
  case class State(hashes: DataFrame, postings: DataFrame)

  /** Per-doc batch decisions plus the state delta the caller appends on
    * accept: `decisions` one row per batch doc (doc_id, is_exact_dup,
    * n_near, keep); `acceptedHashes`/`acceptedPostings` cover exactly the
    * keep=1 docs. `ceiling` is the giant-near-family audit, present only
    * when [[processBatch]] ran with `audit = true`; it is MATERIALIZED
    * (plain longs) at processBatch time — i.e. against the pre-append
    * state — so a caller may append first and read the diag after without
    * the audit ever seeing the batch's own accepted hashes. */
  case class BatchResult(decisions: DataFrame, acceptedHashes: DataFrame,
      acceptedPostings: DataFrame, ceiling: Option[CeilingDiag] = None)

  def emptyState(s: SparkSession): State = {
    import s.implicits._
    // postings key matches TextOps.docShinglesOf: a 128-bit composite-hash
    // struct (h1, h2), not the string. Key VALUES changed in r18 (h2 is
    // now an independent hash — see [[PostingsVersion]]); loadState fails
    // fast on any state dir not stamped with the current format
    State(Seq.empty[String].toDF("h"),
      Seq.empty[((Long, Long), Long)]
        .toDF("shingle", "doc_id")
        .select(col("shingle").cast("struct<h1:bigint,h2:bigint>"), col("doc_id")))
  }

  /** Load the index from `dir`, empty frames when a component is absent
    * (first batch). Existence goes through the Hadoop FileSystem API — the
    * same abstraction the reads/writes use — so `dir` may be any filesystem
    * Spark can reach (HDFS/S3/local); a java.io.File probe would return
    * false for every remote URI and silently run each batch against an
    * empty index. */
  def loadState(s: SparkSession, dir: String): State = {
    val conf = s.sessionState.newHadoopConf()
    def read(sub: String, fallback: DataFrame): DataFrame = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$sub")
      if (p.getFileSystem(conf).exists(p)) s.read.parquet(p.toString)
      else fallback
    }
    // fail fast on a stale index: a pre-v3 postings dir either has the
    // string key (schema mismatch that would otherwise surface later as an
    // opaque union/join AnalysisException) or — worse — the SAME
    // struct<h1,h2> schema with r17's seed-chained h2 values, which would
    // silently corrupt every df count and Jaccard decision. The version
    // marker is written by [[appendState]]; its absence next to an
    // existing postings dir means "written by an older build: re-index".
    val postingsPath = new org.apache.hadoop.fs.Path(s"$dir/postings")
    if (postingsPath.getFileSystem(conf).exists(postingsPath)) {
      val vp = new org.apache.hadoop.fs.Path(s"$dir/$VersionFile")
      val fs = vp.getFileSystem(conf)
      val ok = fs.exists(vp) && {
        val in = fs.open(vp)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim ==
          PostingsVersion
        finally in.close()
      }
      if (!ok) throw new IllegalStateException(
        s"incremental-dedup state at $dir was written by an incompatible " +
          s"postings format (expected $PostingsVersion): the shingle key " +
          "values differ between formats, so reading it would silently " +
          "corrupt dedup decisions. Re-index from the corpus text.")
    }
    val e = emptyState(s)
    State(read("hashes", e.hashes), read("postings", e.postings))
  }

  /** Append a batch's accepted-doc index delta (+ its decisions for audit)
    * to `dir`. Parquet append — each batch adds files, no rewrite of
    * historical state.
    *
    * All three outputs are MATERIALIZED (eager localCheckpoint) before the
    * first write: they share plan subtrees that READ the very directories
    * being appended to, so writing hashes first and then letting the
    * postings/decisions plans re-list the hashes dir would feed the batch
    * its own hashes back — every doc flips to exact-dup in the persisted
    * decisions while the in-memory stats said otherwise (caught by the
    * first two-JVM `graft.Run dedup` run). */
  def appendState(dir: String, batch: Long, r: BatchResult): Unit = {
    val h = r.acceptedHashes.localCheckpoint(true)
    val p = r.acceptedPostings.localCheckpoint(true)
    val dcs = r.decisions.withColumn("batch", lit(batch)).localCheckpoint(true)
    h.write.mode("append").parquet(s"$dir/hashes")
    p.write.mode("append").parquet(s"$dir/postings")
    dcs.write.mode("append").parquet(s"$dir/decisions")
    // stamp the postings format so a later loadState can fail fast on a
    // stale index (idempotent overwrite; written AFTER the data appends so
    // a crash mid-append never leaves a stamped-but-empty dir)
    val conf = h.sparkSession.sessionState.newHadoopConf()
    val vp = new org.apache.hadoop.fs.Path(s"$dir/$VersionFile")
    val fs = vp.getFileSystem(conf)
    val out = fs.create(vp, true)
    try out.write((PostingsVersion + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Exact-dedup phase shared by [[processBatch]] and [[ceilingDiag]]:
    * (hashed batch, exact-dup doc ids, exact survivors). */
  private def exactPhase(batch: DataFrame,
      state: State): (DataFrame, DataFrame, DataFrame) = {
    val withH = batch.select(col("doc_id"), col("text"), md5(col("text")).as("h"))
    // in-batch exact dedup: the min doc_id of each hash group represents it
    val keeper = withH.groupBy("h").agg(min(col("doc_id")).as("keep_id"))
    // exact flag = duplicate of an in-batch keeper OR of an indexed doc
    val indexHit = withH.join(state.hashes, Seq("h"), "left_semi")
      .select(col("doc_id"))
    val exactDup = withH.join(keeper, Seq("h"))
      .filter(col("doc_id") =!= col("keep_id")).select(col("doc_id"))
      .unionAll(indexHit).distinct()
    val exactSurvivors = batch.join(exactDup, Seq("doc_id"), "left_anti")
    (withH, exactDup, exactSurvivors)
  }

  /** Process one batch of (doc_id, text) against the index. Pure plan
    * construction by default — nothing runs a job; the caller materializes
    * (and at scale should localCheckpoint/persist `decisions` before
    * writing the three outputs, which share it). With `audit = true` the
    * giant-near-family ceiling audit runs EAGERLY here (a few jobs: one
    * survivor count, one shingle-df aggregation, ≤ `auditSamplePairs`
    * posting-list melts) against the pre-append state, reusing this
    * batch's own survivor/posting frames — the result rides on
    * [[BatchResult.ceiling]] as plain longs, immune to any later
    * appendState re-listing the state directories.
    *
    * PRECONDITION: doc_ids are globally unique across every batch ever
    * processed against this state — the Jaccard melt fetches posting lists
    * by doc_id, so a batch doc_id colliding with an indexed one merges two
    * documents' shingle sets. There is NO defensive dedup of the combined
    * postings (round 14 removed the (shingle, doc_id) distinct — it cost a
    * full shuffle of the accepted-corpus postings every batch for a case
    * the contract excludes), so a colliding id now yields double-counted
    * posting rows in the Jaccard melt: |A|+|B| and the per-shingle counts
    * are both wrong for that id, not merely computed over a merged set. */
  def processBatch(batch: DataFrame, state: State, audit: Boolean = false,
      auditSamplePairs: Int = 8): BatchResult = {
    val (withH, exactDup, exactSurvivors) = exactPhase(batch, state)

    // near-dup: rare-shingle blocking over index+batch postings together,
    // candidate pairs = (batch survivor × indexed doc) PLUS two batch-
    // internal generators — two near-dup variants arriving in the SAME
    // batch collapse to the lower doc_id, mirroring the exact-dedup min-id
    // keeper rule (before round 13 only cross pairs were generated, so a
    // batch carrying internal near-families accepted them all — the 24×-
    // replication run's batch 0 accepted 19,968 docs with 0 near-hits).
    // Exact Jaccard ≥ 0.5 verifies every proposed pair.
    val batchPost0 = TextOps.docShinglesOf(exactSurvivors)
      .select(col("shingle"), col("doc_id"))
    // audit mode materializes the batch postings once (the ceiling diag
    // reads them three times) and the near-dup plan below reuses the same
    // checkpoint instead of re-deriving shingles; audit=false keeps the
    // default path pure lazy plan construction, plans unchanged
    val batchPost =
      if (audit) batchPost0.localCheckpoint(true) else batchPost0
    val ceiling =
      if (audit)
        Some(ceilingDiagFrom(exactSurvivors.count(), batchPost,
          auditSamplePairs))
      else None
    // BY NAME: state.postings comes back from parquet in storage order —
    // a positional union would zip shingles into doc_ids. No distinct:
    // postings are distinct per doc on both sides by construction
    // (docShinglesOf dedups, and the index only ever receives batchPost
    // rows), and cross-batch doc_id uniqueness is the documented
    // precondition above — a defensive full shuffle of the ENTIRE
    // accepted-corpus postings per batch would double the heaviest
    // per-batch exchange for a case the contract excludes.
    val combined = state.postings.unionByName(batchPost)
    // cross (batch × index) band: INDEX-side rarity only. Boilerplate is a
    // property of the accepted corpus; computing the band over index+batch
    // let a batch's own replication mask a family out of it — 12 variants
    // of an INDEXED doc arriving together push their shared shingles to
    // combined df 13 > 10 and the whole family sailed past the index
    // check (caught by the >10-member regression test's replay leg). With
    // df_index <= 10 the pair fan-out per shingle is still bounded at 10
    // index docs per batch holder — linear in batch postings.
    val rareIdx = state.postings.groupBy("shingle")
      .agg(count(lit(1)).as("dfi"))
      .filter(col("dfi").between(1, 10)).select("shingle")
    val indexPairs = batchPost
      .select(col("shingle"), col("doc_id").as("b"))
      .join(state.postings.join(rareIdx, Seq("shingle"))
        .select(col("shingle"), col("doc_id").as("c")), Seq("shingle"))
      .select(col("b"), col("c"))
    // in-batch band: combined df — known (indexed) boilerplate stays
    // excluded from the small-family all-pairs generator
    val rare = combined.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 10)).select("shingle")
    val batchRare = batchPost.join(rare, Seq("shingle"))
    // batch-internal generator 1: all pairs inside the SAME rare band —
    // catches small families whose shingles stay under df <= 10
    val inBatchPairs = batchRare
      .select(col("shingle"), col("doc_id").as("b"))
      .join(batchRare.select(col("shingle"), col("doc_id").as("c")),
        Seq("shingle"))
      .filter(col("c") < col("b"))
      .select(col("b"), col("c"))
    // batch-internal generator 2: MIN-ANCHOR pairing over BATCH-frequency
    // shingles. A near-family of >10 variants in one batch defeats the
    // rare band entirely — its shared core shingles sit at df > 10 and its
    // variant-unique shingles at df = 1, so generator 1 proposes nothing
    // and the family would be accepted wholesale (the round-13 gap's
    // big-family twin). For every shingle whose BATCH df is in [2, max(10,
    // half the batch's surviving docs)], pair each holder with the
    // shingle's MINIMUM batch doc_id: a family's core shingles all anchor
    // to the family minimum, so every member is tested against the doc
    // that would keep it out — df·(df−1)/2 all-pairs become df−1 rows,
    // LINEAR in postings no matter how large the family. The 50%-of-batch
    // ceiling keeps true batch-wide boilerplate from anchoring the whole
    // batch to one doc (those pairs would all fail Jaccard verification —
    // correct but a wasted posting-list melt per pair); the residual blind
    // spot is a single near-family spanning MORE than half the batch's
    // exact survivors, which this layer cannot distinguish from
    // boilerplate (the motivating 24×-replication scenario sits at
    // df≈24 in 40k-doc batches, far under the ceiling). Computed as a
    // 1-row broadcast join so processBatch stays pure plan construction.
    val nSurv = exactSurvivors.agg(
      count(lit(1)).cast("double").as("n_surv"))
    val anchors = batchPost
      .groupBy("shingle")
      .agg(min(col("doc_id")).as("c"), count(lit(1)).as("bdf"))
      .join(broadcast(nSurv))
      .filter(col("bdf") >= 2 &&
        col("bdf") <= greatest(lit(10.0), col("n_surv") * 0.5))
      .select(col("shingle"), col("c"))
    val anchorPairs = batchPost
      .join(anchors, Seq("shingle"))
      .filter(col("doc_id") > col("c"))
      .select(col("doc_id").as("b"), col("c"))
    val crossPairs = indexPairs.unionAll(inBatchPairs).unionAll(anchorPairs)
      .distinct()
    // exact Jaccard via the melt pattern (TextOps.jaccardPairs): one join
    // fetches both sides' postings; per pair, probe-row total = |A|+|B| and
    // distinct-shingle count = |A∪B|
    val melt = crossPairs.select(col("b"), col("c"),
      explode(array(col("b"), col("c"))).as("doc_id"))
    val nearHits = melt.join(combined, Seq("doc_id"))
      .groupBy("b", "c", "shingle").agg(count(lit(1)).as("cnt"))
      .groupBy("b", "c")
      .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("n_union"))
      .filter((col("tot") - col("n_union")).cast("double") / col("n_union") >= 0.5)
      .groupBy(col("b").as("doc_id")).agg(count(lit(1)).as("n"))

    val decisions = batch.select(col("doc_id"))
      .join(exactDup.select(col("doc_id"), lit(1L).as("e")), Seq("doc_id"), "left")
      .join(nearHits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("e"), lit(0L)).as("is_exact_dup"),
        coalesce(col("n"), lit(0L)).as("n_near"),
        when(col("e").isNull && col("n").isNull, 1L).otherwise(0L).as("keep"))
    val kept = decisions.filter(col("keep") === 1L).select("doc_id")
    BatchResult(
      decisions,
      withH.join(kept, Seq("doc_id"), "left_semi").select(col("h")),
      batchPost.join(kept, Seq("doc_id"), "left_semi")
        .select(col("shingle"), col("doc_id")),
      ceiling)
  }

  /** What [[ceilingDiag]] measured about a batch's over-ceiling shingles —
    * the min-anchor generator's documented blind spot (a single near-family
    * spanning more than half the batch's exact survivors has its core
    * shingles ABOVE the 50%-of-batch ceiling and is indistinguishable from
    * batch-wide boilerplate, so generator 2 proposes nothing for it).
    * `overCeilingShingles`/`overCeilingPostings` are the count and posting
    * mass of batch shingles past the ceiling; `sampledPairs` anchor pairs
    * drawn from the highest-df over-ceiling shingles were Jaccard-verified
    * and `sampledNearHits` of them passed ≥ 0.5 — TRUE boilerplate fails
    * the whole-document Jaccard (shared headers over different bodies),
    * a giant near-family passes it, so [[CeilingDiag.flagged]] separates
    * exactly the case the keep decision cannot. */
  case class CeilingDiag(nSurvivors: Long, overCeilingShingles: Long,
      overCeilingPostings: Long, sampledPairs: Long, sampledNearHits: Long) {
    /** An over-ceiling anchor pair verified at Jaccard ≥ 0.5: this batch
      * likely contains a near-family too large for the min-anchor ceiling
      * and its members were accepted wholesale — audit it. */
    def flagged: Boolean = sampledNearHits > 0
    override def toString: String =
      s"CeilingDiag(nSurvivors=$nSurvivors, " +
        s"overCeilingShingles=$overCeilingShingles, " +
        s"overCeilingPostings=$overCeilingPostings, " +
        s"sampledPairs=$sampledPairs, sampledNearHits=$sampledNearHits, " +
        s"flagged=$flagged)"
  }

  /** Opt-in per-batch audit of the >50%-of-batch blind spot (round-15 item
    * 5): measures the batch's over-ceiling shingle population and Jaccard-
    * verifies a deterministic sample of anchor pairs drawn from the
    * highest-df over-ceiling shingles (each shingle's min batch doc_id vs
    * its max holder — the widest-separated members a family has). Zero
    * effect on [[processBatch]]'s keep decisions. This STANDALONE form
    * re-derives the exact phase and batch postings from `state` — which
    * must therefore still be the PRE-append state; running it after
    * appendState lets the audit see the batch's own accepted hashes and
    * every survivor flips to exact-dup, silencing the flag. The production
    * loop should instead pass `audit = true` to [[processBatch]], which
    * computes this same diag from its own pre-append frames at no extra
    * shingle derivation and hands it back on [[BatchResult.ceiling]].
    * Cost here: one exact phase + full batch shingle derivation + one
    * shingle-df aggregation plus ≤ `samplePairs` posting-list melts. */
  def ceilingDiag(batch: DataFrame, state: State,
      samplePairs: Int = 8): CeilingDiag = {
    val (_, _, exactSurvivors) = exactPhase(batch, state)
    val batchPost = TextOps.docShinglesOf(exactSurvivors)
      .select(col("shingle"), col("doc_id"))
      .localCheckpoint(true) // read thrice below; one materialization
    ceilingDiagFrom(exactSurvivors.count(), batchPost, samplePairs)
  }

  /** The diag core over already-derived frames: `batchPost` MUST be
    * materialized (it is read three times) and restricted to the exact
    * survivors counted by `nSurv`. */
  private def ceilingDiagFrom(nSurv: Long, batchPost: DataFrame,
      samplePairs: Int): CeilingDiag = {
    val ceiling = math.max(10.0, nSurv * 0.5)
    val over = batchPost.groupBy("shingle")
      .agg(min(col("doc_id")).as("c"), count(lit(1)).as("bdf"))
      .filter(col("bdf") > ceiling)
    val stats = over.agg(count(lit(1)).as("n"), sum(col("bdf")).as("mass"))
      .collect()(0)
    val nOver = stats.getLong(0)
    val mass = if (stats.isNullAt(1)) 0L else stats.getLong(1)
    if (nOver == 0L) return CeilingDiag(nSurv, 0L, 0L, 0L, 0L)
    val sampled = over.orderBy(col("bdf").desc, col("shingle"))
      .limit(samplePairs)
    // one probe pair per sampled shingle: anchor (min holder) vs max holder
    val probe = batchPost
      .join(broadcast(sampled.select(col("shingle"), col("c"))), Seq("shingle"))
      .filter(col("doc_id") > col("c"))
      .groupBy("shingle", "c").agg(max(col("doc_id")).as("b"))
      .select(col("b"), col("c")).distinct()
    // exact whole-document Jaccard over batch postings — the same melt
    // identity processBatch verifies with: |A∩B| = (|A|+|B|) − |A∪B|
    val melt = probe.select(col("b"), col("c"),
      explode(array(col("b"), col("c"))).as("doc_id"))
    val hits = melt.join(batchPost, Seq("doc_id"))
      .groupBy("b", "c", "shingle").agg(count(lit(1)).as("cnt"))
      .groupBy("b", "c")
      .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("n_union"))
      .filter((col("tot") - col("n_union")).cast("double") / col("n_union") >= 0.5)
      .count()
    CeilingDiag(nSurv, nOver, mass, probe.count(), hits)
  }
}
