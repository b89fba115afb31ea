package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.IncrementalDedup

/** Persisted-state incremental dedup: batch semantics, cross-batch index
  * correctness, and batch-vs-streaming (foreachBatch) label equality. */
class IncrementalDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // two "arrival batches": batch 1 carries an exact copy of doc 1, a
  // near-dup of doc 2 (>=0.5 shingle Jaccard), and a fresh doc. Each batch
  // is internally near-free (docs 1/2/3 pairwise share no shingles) so the
  // cross-batch state semantics are what these tests isolate; the in-batch
  // near rule has its own test below.
  private def mkDocs(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val fox = "the quick brown fox jumps over a lazy dog while rain " +
    "falls on the quiet village square and church bells ring"
  // last word changed: 5 of fox's 16 shingles differ -> Jaccard 11/21 = 0.52
  private val foxNear = fox.stripSuffix("ring") + "chime"
  private val batch0 = Seq(
    1L -> base,
    2L -> fox,
    3L -> "completely different words with no overlap at all here today ok")
  private val batch1 = Seq(
    11L -> base, // exact copy of doc 1
    12L -> foxNear, // near-dup of 2
    13L -> "another unrelated document nothing shared with any other text")

  test("batch 1 dedups against batch 0's accumulated state") {
    val r0 = IncrementalDedup.processBatch(mkDocs(batch0),
      IncrementalDedup.emptyState(spark))
    val d0 = r0.decisions.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(d0.values.forall(_._3 == 1L), s"empty-state batch must keep all: $d0")
    val st1 = IncrementalDedup.State(
      r0.acceptedHashes.localCheckpoint(true),
      r0.acceptedPostings.localCheckpoint(true))
    val r1 = IncrementalDedup.processBatch(mkDocs(batch1), st1)
    val d1 = r1.decisions.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(d1(11L)._1 == 1L && d1(11L)._3 == 0L, s"exact copy not caught: $d1")
    assert(d1(12L)._2 >= 1L && d1(12L)._3 == 0L, s"near-dup not caught: $d1")
    assert(d1(13L) == (0L, 0L, 1L), s"fresh doc not kept: $d1")
    // accepted delta covers exactly the kept docs
    assert(r1.acceptedHashes.count() == 1L)
    assert(r1.acceptedPostings.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(13L))
  }

  test("in-batch exact dedup keeps the min doc_id") {
    val dup = mkDocs(Seq(5L -> base, 4L -> base, 6L -> ("something else entirely " +
      "unrelated to everything and then some more words")))
    val r = IncrementalDedup.processBatch(dup, IncrementalDedup.emptyState(spark))
    val d = r.decisions.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(d(4L) == (0L, 1L), "min-id copy must be the keeper")
    assert(d(5L) == (1L, 0L), "higher-id copy must be exact-flagged")
    assert(d(6L) == (0L, 1L))
  }

  test("in-batch near-dups collapse to the min doc_id") {
    // 21 and 22 are near-dups (Jaccard 0.52) arriving in the SAME batch on
    // an empty index — before round 13 both were accepted (only batch ×
    // index pairs were generated); the min-id keeper rule drops 22
    val b = mkDocs(Seq(21L -> fox, 22L -> foxNear,
      23L -> "fresh standalone content sharing nothing with the fox sentence x y"))
    val r = IncrementalDedup.processBatch(b, IncrementalDedup.emptyState(spark))
    val d = r.decisions.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(d(21L) == (0L, 0L, 1L), s"min-id near variant must be kept: $d")
    assert(d(22L)._2 >= 1L && d(22L)._3 == 0L,
      s"higher-id in-batch near-dup must be dropped: $d")
    assert(d(23L) == (0L, 0L, 1L), s"unrelated doc must be kept: $d")
    assert(r.acceptedPostings.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == Set(21L, 23L))

    // idempotency: replaying the same docs (fresh ids) against the updated
    // state drops everything — 21/23 exact, 22 near vs the indexed 21
    val st = IncrementalDedup.State(
      r.acceptedHashes.localCheckpoint(true),
      r.acceptedPostings.localCheckpoint(true))
    val replay = IncrementalDedup.processBatch(
      mkDocs(Seq(31L -> fox, 32L -> foxNear,
        33L -> "fresh standalone content sharing nothing with the fox sentence x y")),
      st)
    val d2 = replay.decisions.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(d2(31L)._1 == 1L && d2(31L)._3 == 0L, s"replayed exact copy kept: $d2")
    assert(d2(32L)._2 >= 1L && d2(32L)._3 == 0L, s"replayed near-dup kept: $d2")
    assert(d2(33L)._1 == 1L && d2(33L)._3 == 0L, s"replayed exact copy kept: $d2")
  }

  test("a >10-member in-batch near-family collapses to its min doc_id") {
    // 12 variants of the fox sentence (last word swapped) in ONE batch: the
    // family's 11 shared core shingles sit at batch df=12 — PAST the
    // rare band's df<=10 ceiling — and each variant's 5 unique shingles at
    // df=1, so the all-pairs generator proposes NOTHING for this family
    // (the round-13 fix only covered families small enough for the band;
    // this is the ADVICE r13 gap). The min-anchor generator pairs every
    // member with the family minimum through the core shingles; pairwise
    // Jaccard vs the min is 11/21 = 0.52 >= 0.5, so all 11 higher ids drop.
    // 14 unrelated docs keep the family under the 50%-of-survivors
    // boilerplate ceiling, as any real crawl batch would.
    val variants = Seq("ring", "chime", "toll", "peal", "sound", "echo",
      "hum", "clang", "boom", "knell", "din", "song")
    val family = variants.zipWithIndex.map { case (w, i) =>
      (100L + i) -> (fox.stripSuffix("ring") + w)
    }
    val fillers = (0 until 14).map { i =>
      (200L + i) -> (s"filler document number$i with entirely distinct tokens " +
        s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i iota$i")
    }
    val r = IncrementalDedup.processBatch(mkDocs(family ++ fillers),
      IncrementalDedup.emptyState(spark))
    val d = r.decisions.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(d(100L) == (0L, 0L, 1L), s"family min must be kept: $d")
    (101L to 111L).foreach { id =>
      assert(d(id)._2 >= 1L && d(id)._3 == 0L,
        s"family member $id must be near-dropped: ${d(id)} in $d")
    }
    fillers.foreach { case (id, _) =>
      assert(d(id) == (0L, 0L, 1L), s"filler $id must be kept: ${d(id)}")
    }
    // accepted delta = min member + all fillers
    assert(r.acceptedPostings.select("doc_id").distinct().collect()
      .map(_.getLong(0)).toSet == (Set(100L) ++ fillers.map(_._1)))

    // idempotency: the same family replayed (fresh ids) against the updated
    // index drops EVERY member — 100's twin exact-drops, the rest near-drop
    // against the indexed 100 through the cross generator
    val st = IncrementalDedup.State(
      r.acceptedHashes.localCheckpoint(true),
      r.acceptedPostings.localCheckpoint(true))
    val replay = IncrementalDedup.processBatch(
      mkDocs(family.map { case (id, t) => (id + 300L) -> t }), st)
    val d2 = replay.decisions.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(d2.values.forall(_._3 == 0L), s"replayed family must all drop: $d2")
  }

  test("batch-wide boilerplate does not near-drop distinct documents") {
    // 30 documents sharing one boilerplate sentence (its shingles sit in
    // 100% of the batch — batch df 30 > max(10, half the 30 survivors),
    // past BOTH the rare band and the min-anchor ceiling, so neither
    // batch-internal generator proposes a single pair) but each with a
    // distinct long body: none is a near-dup of any other (pairwise
    // Jaccard 6/38 ≪ 0.5), so ALL must be kept. Pins the ceiling as a
    // cost guard that can never cost correctness: exceeding it skips
    // candidate GENERATION for pairs that verification would reject
    // anyway; a regression that dropped on generation would fail here.
    val boiler = "all rights reserved contact the site administrator for details today"
    val docs = (0 until 30).map { i =>
      (500L + i) -> (boiler + s" body$i " +
        (0 until 15).map(j => s"tok${i}_$j").mkString(" "))
    }
    val r = IncrementalDedup.processBatch(mkDocs(docs),
      IncrementalDedup.emptyState(spark))
    val d = r.decisions.collect().map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    docs.foreach { case (id, _) =>
      assert(d(id) == (0L, 0L, 1L), s"distinct doc $id wrongly dropped: ${d(id)}")
    }
  }

  test("ceilingDiag flags a >50%-of-batch near-family but not boilerplate") {
    // 13 fox variants = 65% of the 20 survivors: the family core shingles
    // sit at batch df=13, past BOTH max(10, half-the-batch) ceilings, so
    // processBatch accepts the family wholesale — the documented blind
    // spot (round-14 scope note). The round-15 diagnostic must FLAG the
    // batch (an over-ceiling anchor pair passes whole-document Jaccard)
    // without touching the keep decision.
    val variants = Seq("ring", "chime", "toll", "peal", "sound", "echo",
      "hum", "clang", "boom", "knell", "din", "song", "call")
    val family = variants.zipWithIndex.map { case (w, i) =>
      (700L + i) -> (fox.stripSuffix("ring") + w)
    }
    val fillers = (0 until 7).map { i =>
      (800L + i) -> (s"filler document number$i with entirely distinct tokens " +
        s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i iota$i")
    }
    val docs = mkDocs(family ++ fillers)
    val st = IncrementalDedup.emptyState(spark)
    val r = IncrementalDedup.processBatch(docs, st)
    val d = r.decisions.collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(d.values.forall(_ == 1L),
      s"precondition: the >50% family IS the blind spot (all accepted): $d")
    val diag = IncrementalDedup.ceilingDiag(docs, st)
    assert(diag.nSurvivors == 20L, s"got $diag")
    assert(diag.overCeilingShingles >= 10L,
      s"the family core must be over-ceiling: $diag")
    assert(diag.sampledPairs >= 1L && diag.sampledNearHits >= 1L &&
      diag.flagged, s"a giant near-family must fire the flag: $diag")

    // true boilerplate (shared sentence, distinct bodies) has the same
    // over-ceiling signature but fails the whole-document Jaccard: no flag
    val boiler = "all rights reserved contact the site administrator for details today"
    val bdocs = mkDocs((0 until 30).map { i =>
      (900L + i) -> (boiler + s" body$i " +
        (0 until 15).map(j => s"tok${i}_$j").mkString(" "))
    })
    val bdiag = IncrementalDedup.ceilingDiag(bdocs, st)
    assert(bdiag.overCeilingShingles >= 1L,
      s"boilerplate shingles must be over-ceiling: $bdiag")
    assert(bdiag.sampledPairs >= 1L && bdiag.sampledNearHits == 0L &&
      !bdiag.flagged, s"boilerplate must NOT fire the flag: $bdiag")

    // a batch with no over-ceiling shingles reports a clean zero diag
    val cdiag = IncrementalDedup.ceilingDiag(mkDocs(batch0), st)
    assert(!cdiag.flagged && cdiag.overCeilingShingles == 0L, s"got $cdiag")
  }

  test("processBatch(audit=true) carries the ceiling flag pre-append") {
    // the production path (round-16 ordering fix): the audit rides on
    // BatchResult.ceiling as materialized longs, computed against the
    // PRE-append state inside processBatch — so the `graft.Run dedup`
    // flow (process -> append -> print) can never feed the audit the
    // batch's own just-appended hashes. Same 65% family as above, but the
    // flag must arrive through processBatch and SURVIVE an appendState
    // that writes the very directories the state frames read.
    val variants = Seq("ring", "chime", "toll", "peal", "sound", "echo",
      "hum", "clang", "boom", "knell", "din", "song", "call")
    val family = variants.zipWithIndex.map { case (w, i) =>
      (700L + i) -> (fox.stripSuffix("ring") + w)
    }
    val fillers = (0 until 7).map { i =>
      (800L + i) -> (s"filler document number$i with entirely distinct tokens " +
        s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i iota$i")
    }
    val dir = java.nio.file.Files
      .createTempDirectory("incdedup-audit").toString
    val st = IncrementalDedup.loadState(spark, dir) // empty disk state
    val r = IncrementalDedup.processBatch(mkDocs(family ++ fillers), st,
      audit = true)
    IncrementalDedup.appendState(dir, 0L, r)
    val cd = r.ceiling.getOrElse(fail("audit=true must populate ceiling"))
    assert(cd.nSurvivors == 20L && cd.flagged,
      s"the 65% family must flag through processBatch's audit: $cd")
    // a post-append STANDALONE re-run is exactly the documented misuse:
    // the state now contains the batch's own hashes, every survivor goes
    // exact-dup, and the diag degrades to a silent zero — pinned here so
    // the failure mode stays visible if someone reorders the Run flow back
    val stale = IncrementalDedup.ceilingDiag(mkDocs(family ++ fillers),
      IncrementalDedup.loadState(spark, dir))
    assert(stale.nSurvivors == 0L && !stale.flagged,
      s"post-append audit must be the degraded zero diag: $stale")
    // audit off (the default) leaves the result and plans untouched
    val off = IncrementalDedup.processBatch(mkDocs(batch0),
      IncrementalDedup.emptyState(spark))
    assert(off.ceiling.isEmpty)
  }

  test("loadState fails fast on a postings dir without the format marker") {
    // a state dir written by a pre-r18 build has the same parquet schema
    // (struct<h1,h2>) but DIFFERENT key values (r17 seed-chained h2) — or,
    // pre-r17, the string key. Both lack the POSTINGS_FORMAT stamp that
    // appendState now writes, and silently mixing either corrupts df
    // counts and Jaccard decisions; loadState must refuse, loudly.
    val dir = java.nio.file.Files
      .createTempDirectory("incdedup-stale").toString
    val r = IncrementalDedup.processBatch(mkDocs(batch0),
      IncrementalDedup.emptyState(spark))
    IncrementalDedup.appendState(dir, 0L, r)
    // the stamped dir loads fine
    IncrementalDedup.loadState(spark, dir)
    // strip the marker — the "older build wrote this" state
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "POSTINGS_FORMAT"))
    val err = intercept[IllegalStateException](
      IncrementalDedup.loadState(spark, dir))
    assert(err.getMessage.contains("incompatible"), err.getMessage)
    // a dir with NO postings at all (first batch) still loads as empty
    val fresh = java.nio.file.Files
      .createTempDirectory("incdedup-fresh").toString
    val st = IncrementalDedup.loadState(spark, fresh)
    assert(st.postings.count() == 0L)
  }

  test("foreachBatch streaming flow produces the same labels as batch runs") {
    import spark.implicits._
    // batch-sequential reference
    val r0 = IncrementalDedup.processBatch(mkDocs(batch0),
      IncrementalDedup.emptyState(spark))
    val st1 = IncrementalDedup.State(
      r0.acceptedHashes.localCheckpoint(true),
      r0.acceptedPostings.localCheckpoint(true))
    val r1 = IncrementalDedup.processBatch(mkDocs(batch1), st1)
    val want = (r0.decisions.collect() ++ r1.decisions.collect())
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    // streaming flow: one micro-batch per arrival, state accumulated in
    // foreachBatch exactly as a production writer would (the state frames
    // are localCheckpointed — materialize-before-mutate, the same rule
    // appendState enforces on disk)
    implicit val sqlCtx = spark.sqlContext
    var state = IncrementalDedup.emptyState(spark)
    val got = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!df.isEmpty) {
          val r = IncrementalDedup.processBatch(df, state)
          r.decisions.collect().foreach(row => got(row.getLong(0)) =
            (row.getLong(1), row.getLong(2), row.getLong(3)))
          state = IncrementalDedup.State(
            state.hashes.unionByName(r.acceptedHashes).localCheckpoint(true),
            state.postings.unionByName(r.acceptedPostings).localCheckpoint(true))
        }
      }
      .start()
    try {
      mem.addData(batch0: _*); q.processAllAvailable()
      mem.addData(batch1: _*); q.processAllAvailable()
    } finally q.stop()
    assert(got.toMap == want,
      s"streaming labels diverged from batch labels:\n$got\nvs\n$want")
  }
}
