package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Aggregates, EventsOps, TextOps}

/** Invariant checks for the [no-oracle] declared queries (SURVEY.md §2.b)
  * plus a double-run determinism gate for representative queries.
  */
class InvariantsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val sf = TestSpark.sf

  test("q_agg_approx_distinct: HLL within 5% of exact") {
    val rows = Aggregates.q_agg_approx_distinct(s, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_users").toDouble
      val exact = r.getAs[Long]("exact_users").toDouble
      assert(math.abs(approx - exact) / exact <= 0.05, s"HLL off: $r")
    }
  }

  test("q_events_sliding: every event lands in exactly two 1h/30min windows") {
    val total = EventsOps.q_events_sliding(s, sf).agg(sum(col("cnt"))).collect()(0).getLong(0)
    val nEvents = graft.Tables.events(s, sf).count()
    assert(total == 2 * nEvents)
  }

  test("q_minhash_lsh: 4 buckets per doc; identical texts share all buckets") {
    import s.implicits._
    val out = TextOps.q_minhash_lsh(s, sf)
    val perDoc = out.groupBy("doc_id").count().select("count").distinct().as[Long].collect()
    assert(perDoc.toSeq == Seq(4L))
    // invariant by construction: bucket is a pure function of (band, shingle
    // set); verify on a synthetic duplicate pair through the same transforms
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"), (3L, "x y z w v u t s"))
      .toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      explode(TextOps.shingles(split(col("text"), " "))).as("shingle"))
      .crossJoin(s.range(4).select(col("id").cast("int").as("band")))
      .groupBy("doc_id", "band")
      .agg(min(xxhash64(col("band"), col("shingle"))).as("bucket"))
    val b1 = sh.filter(col("doc_id") === 1).orderBy("band").select("bucket").as[Long].collect()
    val b2 = sh.filter(col("doc_id") === 2).orderBy("band").select("bucket").as[Long].collect()
    val b3 = sh.filter(col("doc_id") === 3).orderBy("band").select("bucket").as[Long].collect()
    assert(b1.toSeq == b2.toSeq)
    assert(b1.toSeq != b3.toSeq)
  }

  test("q_dedup_simhash: 4 bands per doc, buckets in [0,65536); exact dups collide on all bands") {
    import s.implicits._
    val out = TextOps.q_dedup_simhash(s, sf).cache()
    try {
      val perDoc = out.groupBy("doc_id").count().select("count").distinct().as[Long].collect()
      assert(perDoc.toSeq == Seq(4L))
      val bad = out.filter(col("bucket") < 0 || col("bucket") > 65535).count()
      assert(bad == 0, s"$bad buckets outside 16-bit range")
      // exact-duplicate texts (from q_dedup_exact groups with n_docs > 1) must
      // produce identical simhash buckets in every band — the dedup guarantee
      val dupPair = TextOps.q_dedup_exact(s, sf)
        .filter(col("n_docs") > 1).limit(1).collect()
      if (dupPair.nonEmpty) {
        val h = dupPair(0).getAs[String]("h")
        val ids = Tables.documents(s, sf).filter(md5(col("text")) === h)
          .select("doc_id").as[Long].collect().toSeq.sorted.take(2)
        val sigs = ids.map { id =>
          out.filter(col("doc_id") === id).orderBy("band")
            .select("bucket").as[Long].collect().toSeq
        }
        assert(sigs(0) == sigs(1), s"exact dups ${ids} differ: $sigs")
      }
    } finally out.unpersist()
  }

  test("q_sim_neardup_cosine: pairs ordered a<b, cosine >= 0.35, consistent with exact top-k") {
    import s.implicits._
    val out = ops.VectorOps.q_sim_neardup_cosine(s, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("vec_id_a") < r.getAs[Long]("vec_id_b"))
      assert(r.getAs[Double]("cosine") >= 0.35)
    }
    // every near-dup pair whose lower id is a top-k probe must appear in the
    // exact top-k neighbor list of that probe with the same cosine (both are
    // label-blocked exact cosine — one thresholds, the other ranks)
    val topk = ops.VectorOps.q_sim_cosine_topk(s, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("neighbor_id")) -> r.getAs[Double]("cosine"))
      .toMap
    out.filter(_.getAs[Long]("vec_id_a") < 100).foreach { r =>
      val key = (r.getAs[Long]("vec_id_a"), r.getAs[Long]("vec_id_b"))
      topk.get(key).foreach(c => assert(c == r.getAs[Double]("cosine"), s"cosine mismatch at $key"))
    }
  }

  test("q_dedup_jaccard: J in (0,1], exact dups score 1.0, consistent with shingle pair counts") {
    import s.implicits._
    val out = TextOps.q_dedup_jaccard(s, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0, s"jaccard out of range: $r")
      assert(r.getAs[Long]("n_inter") >= 1, s"candidate pair with empty intersection: $r")
    }
    val byPair = out.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard")).toMap
    // exact-duplicate texts (identical shingle sets) must score exactly 1.0
    // when their shared shingles are rare enough to survive the blocking
    val dupGroups = TextOps.q_dedup_exact(s, sf).filter(col("n_docs") > 1).collect()
    dupGroups.foreach { g =>
      val ids = Tables.documents(s, sf).filter(md5(col("text")) === g.getAs[String]("h"))
        .select("doc_id").as[Long].collect().sorted
      for (a <- ids; b <- ids if a < b; j <- byPair.get((a, b)))
        assert(j == 1.0, s"exact dups ($a,$b) scored $j")
    }
    // the full-set intersection can never be smaller than the rare-shingle
    // share count that proposed the pair
    val shared = TextOps.q_dedup_shingle(s, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Long]("n_shared"))
      .toMap
    out.foreach { r =>
      val key = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      shared.get(key).foreach(ns =>
        assert(r.getAs[Long]("n_inter") >= ns, s"full intersection < rare share at $key"))
    }
  }

  test("q_events_funnel: stage ordering and strict timestamp progression") {
    val out = ops.EventsOps.q_events_funnel(s, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val stage = r.getAs[Int]("stage")
      assert(stage >= 1 && stage <= 3, s"stage out of range: $r")
      val v = r.getAs[java.time.LocalDateTime]("first_view")
      val c = Option(r.getAs[java.time.LocalDateTime]("first_click"))
      val p = Option(r.getAs[java.time.LocalDateTime]("first_purchase"))
      assert(c.isDefined == (stage >= 2) && p.isDefined == (stage == 3))
      c.foreach(ct => assert(ct.isAfter(v), s"click not after view: $r"))
      (c, p) match {
        case (Some(ct), Some(pt)) => assert(pt.isAfter(ct), s"purchase not after click: $r")
        case (None, Some(_)) => fail(s"purchase without click: $r")
        case _ => ()
      }
    }
  }

  test("q_dedup_cluster: clusters are consistent closures of the pair graph") {
    val labels = TextOps.q_dedup_cluster(s, sf).collect()
    assert(labels.nonEmpty)
    val canon = labels.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canon_id")).toMap
    val sizes = labels.map(r => r.getAs[Long]("canon_id") -> r.getAs[Long]("n_cluster")).toMap
    // canonical id is the cluster minimum: <= every member, and itself a member
    labels.foreach { r =>
      val (d, c) = (r.getAs[Long]("doc_id"), r.getAs[Long]("canon_id"))
      assert(c <= d, s"canon above member: $r")
      assert(canon.get(c).contains(c), s"canonical $c is not its own canon")
    }
    // cluster sizes tally with membership, every cluster has >= 2 docs
    // (every node in the pair graph has at least one neighbor)
    val counts = labels.groupBy(_.getAs[Long]("canon_id")).view.mapValues(_.length)
    counts.foreach { case (c, n) =>
      assert(n >= 2, s"singleton cluster $c")
      assert(sizes(c) == n.toLong, s"n_cluster mismatch for $c: ${sizes(c)} vs $n")
    }
    // both endpoints of every candidate pair landed in the same cluster
    // (guarded lookups: both outputs are independently display-truncated
    // at 5000 rows, so only assert when both endpoints survived the cap —
    // at this sf nothing is truncated and every pair is checked)
    var checked = 0
    TextOps.q_dedup_shingle(s, sf).collect().foreach { p =>
      val (a, b) = (p.getAs[Long]("doc_a"), p.getAs[Long]("doc_b"))
      for (ca <- canon.get(a); cb <- canon.get(b)) {
        assert(ca == cb, s"pair ($a,$b) split across clusters")
        checked += 1
      }
    }
    assert(checked > 0, "no pair survived both caps — invariant vacuous")
  }

  test("q_dedup_lsh_cluster: collapses a replicated family the df-band blocker misses") {
    val sess = s
    import sess.implicits._
    // a 31-doc family: one base text + 30 variants each appending a distinct
    // token. Every shared shingle has df = 31 — past rare-shingle blocking's
    // df <= 10 cap, so the shingle-block proposer sees NOTHING here. LSH
    // banding has no multiplicity ceiling.
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val family = (0 to 30).map { i =>
      (i.toLong, if (i == 0) base else s"$base rep$i")
    }
    val outsider = (900L, (1 to 40).map(i => s"other$i").mkString(" "))
    val docs = (family :+ outsider).toDF("doc_id", "text")

    val shingleLabels = TextOps.dedupClusterLabelsOf(docs).collect()
    assert(shingleLabels.isEmpty,
      s"df-band blocking unexpectedly proposed: ${shingleLabels.mkString(",")}")

    val lsh = TextOps.lshClusterLabels(docs).collect()
    val byCluster = lsh.groupBy(_.getAs[Long]("canon_id"))
    assert(byCluster.size == 1, s"expected one cluster, got ${byCluster.keySet}")
    val (canonId, members) = byCluster.head
    assert(canonId == 0L, s"canonical should be min doc_id 0, got $canonId")
    assert(members.length == 31, s"family fragmented: ${members.length} of 31")
    members.foreach(r => assert(r.getAs[Long]("n_cluster") == 31L))
    assert(!lsh.exists(_.getAs[Long]("doc_id") == 900L),
      "unrelated doc merged into the family")
    // Jaccard verification gate: a doc sharing a bucket only by chance must
    // not survive — family vs outsider share zero shingles, so any chance
    // band collision is rejected by J >= 0.5. (Checked implicitly above.)

    // the declared query runs clean on the real corpus and keeps the
    // q_dedup_cluster output contract
    val real = TextOps.q_dedup_lsh_cluster(s, sf).collect()
    real.foreach { r =>
      val (d, c) = (r.getAs[Long]("doc_id"), r.getAs[Long]("canon_id"))
      assert(c <= d, s"canon above member: $r")
    }
    val counts = real.groupBy(_.getAs[Long]("canon_id")).view.mapValues(_.length)
    counts.foreach { case (c, n) => assert(n >= 2, s"singleton cluster $c") }
  }

  test("lshClusterLabels: exact pre-collapse — a mass-duplicated family never reaches the chain window") {
    val sess = s
    import sess.implicits._
    // the op's target scenario: 400 byte-identical copies (an exact family)
    // plus 3 near-dup variants and an unrelated doc. Pre-collapse must fold
    // the 400 copies to ONE rep before banding (the mega-bucket killer) and
    // re-expand labels so the full 403-doc cluster comes back out.
    val base = (1 to 50).map(i => s"w$i").mkString(" ")
    val copies = (0 until 400).map(i => (i.toLong, base))
    val variants = (1 to 3).map(i => (1000L + i, s"$base var$i"))
    val outsider = Seq((5000L, (1 to 50).map(i => s"z$i").mkString(" ")))
    val docs = (copies ++ variants ++ outsider).toDF("doc_id", "text")

    val out = TextOps.lshClusterLabels(docs).collect()
    val byCluster = out.groupBy(_.getAs[Long]("canon_id"))
    assert(byCluster.size == 1, s"expected one cluster, got ${byCluster.keySet}")
    val (canonId, members) = byCluster.head
    assert(canonId == 0L, s"canonical should be min doc_id 0, got $canonId")
    assert(members.length == 403, s"cluster lost replicas: ${members.length} of 403")
    members.foreach(r => assert(r.getAs[Long]("n_cluster") == 403L))
    assert(!out.exists(_.getAs[Long]("doc_id") == 5000L), "outsider merged")

    // a pure exact family with NO near-dup neighbors must still cluster
    // (the raw path clustered replicas among themselves at J = 1)
    val lonely = ((0 until 10).map(i => (i.toLong, base)) ++ outsider)
      .toDF("doc_id", "text")
    val lone = TextOps.lshClusterLabels(lonely).collect()
    assert(lone.length == 10 && lone.forall(_.getAs[Long]("n_cluster") == 10L),
      s"pure exact family lost: ${lone.length}")

    // docs too short to shingle stay excluded even when byte-identical
    // (raw-path behavior: no bands => never proposed)
    val short = Seq((1L, "a b"), (2L, "a b"), (3L, "c d")).toDF("doc_id", "text")
    assert(TextOps.lshClusterLabels(short).collect().isEmpty)
  }

  test("q_dedup_minhash_audit: estimates in range, exact dups audit at 1, error bounded") {
    val rows = TextOps.q_dedup_minhash_audit(s, sf).collect()
    assert(rows.nonEmpty)
    var errSum = 0.0
    rows.foreach { r =>
      val (est, exact, err) = (r.getAs[Double]("est"),
        r.getAs[Double]("exact"), r.getAs[Double]("abs_err"))
      assert(est >= 0.0 && est <= 1.0, s"est out of range: $r")
      assert(exact >= 0.0 && exact <= 1.0, s"exact out of range: $r")
      assert(math.abs(err - math.abs(est - exact)) < 1e-6, s"err column lies: $r")
      // bottom-16 coincidence estimator: generous deterministic ceiling —
      // the point of the audit is the distribution, but a k=16 sketch
      // should never be off by more than ~3 sigma of sqrt(J(1-J)/16)
      assert(err <= 0.45, s"sketch wildly off: $r")
      if (exact == 1.0)
        assert(est == 1.0, s"identical texts must have identical sketches: $r")
      errSum += err
    }
    assert(errSum / rows.length <= 0.15,
      f"mean sketch error ${errSum / rows.length}%.4f above 0.15")
  }

  test("q_embed_quantize: int8 error bounded by scale/2, mse <= max_err^2") {
    val rows = ops.VectorOps.q_embed_quantize(s, sf).collect()
    assert(rows.nonEmpty)
    val nVec = graft.Tables.embeddings(s, sf).count()
    assert(rows.length == math.min(nVec, 2000L).toInt,
      s"dropped vectors: ${rows.length} of $nVec")
    rows.foreach { r =>
      val scale = r.getAs[Double]("scale")
      val maxErr = r.getAs[Double]("max_err")
      val mse = r.getAs[Double]("mse")
      assert(scale > 0, s"non-positive scale: $r")
      // half-up rounding error bound (plus display-rounding slack)
      assert(maxErr <= scale / 2 + 1e-6, s"err above scale/2: $r")
      assert(mse >= 0 && mse <= maxErr * maxErr + 1e-9, s"mse above max_err^2: $r")
    }
  }

  test("quantizeAudit edge cases: zero vector excluded, extremes exact") {
    val sess = s
    import sess.implicits._
    val emb = Seq(
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f), 0),        // all-zero: no valid scale
      (2L, Array(1.27f, -1.27f, 0.0f, 0.0f), 1)      // extremes + zeros: all on-grid
    ).toDF("vec_id", "embedding", "label")
    val out = ops.VectorOps.quantizeAudit(emb).collect()
    // the zero vector is excluded rather than emitting NaN stats
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(2L))
    val r = out.head
    assert(r.getAs[Double]("scale") == 0.01) // 1.27/127
    // every element sits exactly on the grid (k * 0.01): zero error
    assert(r.getAs[Double]("max_err") == 0.0 && r.getAs[Double]("mse") == 0.0)
  }

  test("q_dedup_shingle leaves no cached RDDs behind (round-3 persist leak)") {
    val before = s.sparkContext.getPersistentRDDs.keySet
    TextOps.q_dedup_shingle(s, sf).collect()
    val after = s.sparkContext.getPersistentRDDs
    // the query intentionally materializes the shingle relation ONCE via
    // localCheckpoint (docShinglesParted) — checkpoint blocks stay
    // registered until the ContextCleaner GC-releases them. The round-3
    // leak this test pins was an explicit .cache() no one released: any
    // NEW persisted RDD must be a local checkpoint, and one call creates
    // exactly one (measured: 1 new checkpointed RDD per call), so a second
    // checkpoint per call fails here instead of accumulating unnoticed.
    val fresh = after.keySet -- before
    val leaked = fresh.filterNot(id => after(id).isCheckpointed)
    assert(leaked.isEmpty,
      s"q_dedup_shingle leaked non-checkpoint persisted RDDs: $leaked")
    val checkpointed = fresh.count(id => after(id).isCheckpointed)
    assert(checkpointed <= 1,
      s"q_dedup_shingle created $checkpointed checkpointed RDDs, expected <= 1")
  }

  test("q_events_streak: islands partition each user's active days") {
    import s.implicits._
    val out = EventsOps.q_events_streak(s, sf).collect()
    assert(out.nonEmpty)
    // active_days must equal the user's DISTINCT day count, streak counts
    // must be internally consistent, and the longest streak can't exceed
    // the active-day total
    val activeByUser = graft.Tables.events(s, sf)
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    out.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val longest = r.getAs[Long]("longest_streak")
      val nStreaks = r.getAs[Long]("n_streaks")
      val active = r.getAs[Long]("active_days")
      assert(active == activeByUser(u), s"active_days mismatch for user $u: $r")
      assert(longest >= 1 && longest <= active, s"longest out of range: $r")
      assert(nStreaks >= 1 && nStreaks <= active, s"n_streaks out of range: $r")
      // n_streaks islands of total size active, largest = longest:
      // longest + (n_streaks - 1) <= active (every other island has >= 1 day)
      assert(longest + (nStreaks - 1) <= active, s"island sizes inconsistent: $r")
    }
    assert(out.length == activeByUser.size, "a user with events is missing")
  }

  test("q_events_anomaly: flagged z-scores recompute from raw moments") {
    val out = EventsOps.q_events_anomaly(s, sf).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(math.abs(r.getAs[Double]("z")) > 3.0 - 1e-6, s"tame z: $r"))
    // recompute population z for one flagged user driver-side
    val u = out.head.getAs[Long]("user_id")
    val vals = graft.Tables.events(s, sf).filter(col("user_id") === u)
      .select(col("event_id"), col("value")).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).toMap
    val n = vals.size.toDouble
    val mean = vals.values.sum / n
    val sd = math.sqrt(vals.values.map(v => (v - mean) * (v - mean)).sum / n)
    out.filter(_.getAs[Long]("user_id") == u).foreach { r =>
      val zExpect = (vals(r.getAs[Long]("event_id")) - mean) / sd
      assert(math.abs(r.getAs[Double]("z") - zExpect) < 1e-4,
        s"z mismatch: got ${r.getAs[Double]("z")}, expected $zExpect")
    }
  }

  test("q_graph_clustering_coeff: cc in [0,1] and consistent with triangles/degree") {
    val out = graph.GraphOps.q_graph_clustering_coeff(s, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val deg = r.getAs[Long]("degree")
      val tri = r.getAs[Long]("n_triangles")
      val cc = r.getAs[Double]("clustering_coeff")
      assert(deg >= 2, s"deg<2 slipped through: $r")
      assert(cc >= 0.0 && cc <= 1.0, s"cc out of range: $r")
      // triangles can't exceed the wedge count
      assert(2 * tri <= deg * (deg - 1), s"tri > wedges: $r")
      val expect = (tri * 2).toDouble / (deg * (deg - 1))
      assert(math.abs(cc - expect) < 1e-6, s"cc formula mismatch: $r")
    }
  }

  test("q_sample_mixture: rates hit targets, lower-rate samples nest in higher") {
    val out = ops.TextAnalysis.q_sample_mixture(s, sf).collect()
    assert(out.length == 20, s"expected 20 sources, got ${out.length}")
    out.foreach { r =>
      val kept = r.getAs[Long]("n_kept")
      val total = r.getAs[Long]("n_docs")
      val target = r.getAs[Double]("target_rate")
      assert(kept <= total)
      assert(Set(1.0, 0.5, 0.25, 0.125).contains(target), s"bad target: $r")
      if (target == 1.0) assert(kept == total, s"full-rate source dropped docs: $r")
    }
    // nested-sample property: the doc_ids kept at threshold t are a subset
    // of those kept at any t' > t (same hash, just a lower cutoff)
    val hashes = graft.Tables.documents(s, sf)
      .select(pmod(col("doc_id") * lit(2654435761L), lit(1000000L)).as("h"))
      .collect().map(_.getAs[Long]("h"))
    val at125 = hashes.count(_ < 125000L)
    val at500 = hashes.count(_ < 500000L)
    assert(at125 <= at500, "nested-sample property violated")
  }

  test("q_dedup_containment: bounds, exact dups at 1.0, jaccard <= containment") {
    import s.implicits._
    val out = TextOps.q_dedup_containment(s, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val ca = r.getAs[Double]("cont_a")
      val cb = r.getAs[Double]("cont_b")
      assert(ca > 0.0 && ca <= 1.0 && cb > 0.0 && cb <= 1.0, s"containment out of range: $r")
      assert(math.max(ca, cb) >= 0.5, s"below threshold: $r")
      assert(r.getAs[Long]("n_inter") >= 1, s"empty intersection: $r")
    }
    val byPair = out.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Double]("cont_a"), r.getAs[Double]("cont_b"))).toMap
    // exact duplicates (identical shingle sets) are fully contained both ways
    val dupGroups = TextOps.q_dedup_exact(s, sf).filter(col("n_docs") > 1).collect()
    dupGroups.foreach { g =>
      val ids = Tables.documents(s, sf).filter(md5(col("text")) === g.getAs[String]("h"))
        .select("doc_id").as[Long].collect().sorted
      for (a <- ids; b <- ids if a < b; c <- byPair.get((a, b)))
        assert(c == ((1.0, 1.0)), s"exact dups ($a,$b) scored $c")
    }
    // J = I/U <= I/max(|A|,|B|) = min(cont): jaccard never exceeds containment
    TextOps.q_dedup_jaccard(s, sf).collect().foreach { r =>
      val key = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      byPair.get(key).foreach { case (ca, cb) =>
        assert(r.getAs[Double]("jaccard") <= math.min(ca, cb) + 1e-6,
          s"jaccard above containment at $key")
      }
    }
  }

  test("q_dedup_lines: counts partition, exact-dup docs keep zero tokens") {
    import s.implicits._
    val out = TextOps.q_dedup_lines(s, sf).collect()
    val nDocs = Tables.documents(s, sf).count()
    assert(out.length == math.min(nDocs, 5000L).toInt, "a document is missing")
    out.foreach { r =>
      assert(r.getAs[Long]("n_dup_lines") <= r.getAs[Long]("n_lines"), s"dup > total: $r")
      assert(r.getAs[Long]("n_kept_tokens") >= 0, s"negative kept: $r")
    }
    // every line of an exact-duplicate doc occurs in >= 2 docs, so nothing survives
    val byDoc = out.map(r => r.getAs[Long]("doc_id") ->
      (r.getAs[Long]("n_dup_lines"), r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept_tokens"))).toMap
    TextOps.q_dedup_exact(s, sf).filter(col("n_docs") > 1).collect().foreach { g =>
      val ids = Tables.documents(s, sf).filter(md5(col("text")) === g.getAs[String]("h"))
        .select("doc_id").as[Long].collect()
      ids.foreach { id =>
        val (dup, total, kept) = byDoc(id)
        assert(dup == total && kept == 0L, s"exact-dup doc $id kept lines: ${byDoc(id)}")
      }
    }
  }

  test("q_events_transition: transition counts and probabilities are consistent") {
    val out = EventsOps.q_events_transition(s, sf).collect()
    assert(out.nonEmpty && out.length <= 25)
    val totalTransitions = out.map(_.getAs[Long]("n")).sum
    val nEvents = Tables.events(s, sf).count()
    val nUsers = Tables.events(s, sf).select("user_id").distinct().count()
    assert(totalTransitions == nEvents - nUsers,
      s"expected ${nEvents - nUsers} transitions, got $totalTransitions")
    out.groupBy(_.getAs[String]("prev_type")).foreach { case (pt, rows) =>
      val pSum = rows.map(_.getAs[Double]("p")).sum
      assert(math.abs(pSum - 1.0) < 1e-4, s"row $pt probabilities sum to $pSum")
    }
  }

  test("q_graph_assortativity: single row, coefficient in [-1, 1]") {
    val out = graph.GraphOps.q_graph_assortativity(s, sf).collect()
    assert(out.length == 1)
    val r = out.head.getAs[Double]("assortativity")
    assert(r >= -1.0 - 1e-9 && r <= 1.0 + 1e-9, s"assortativity out of range: $r")
    val nEdges = graph.GraphOps.symEdges(graph.GraphOps.rawEdges(s, sf)).count()
    assert(out.head.getAs[Long]("n_edges") == nEdges)
  }

  test("q_dedup_prefix: partitions the corpus; exact-dup groups nest inside prefix groups") {
    val out = TextOps.q_dedup_prefix(s, sf).collect()
    val nDocs = Tables.documents(s, sf).count()
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs, "prefix groups must partition the corpus")
    // exact duplicates share the full text, hence the 64-token prefix:
    // every exact-dup group is at least as big in some prefix group
    val maxPrefix = out.map(_.getAs[Long]("n_docs")).max
    val maxExact = TextOps.q_dedup_exact(s, sf).collect().map(_.getAs[Long]("n_docs")).max
    assert(maxPrefix >= maxExact, s"prefix grouping ($maxPrefix) lost exact dups ($maxExact)")
    out.foreach(r => assert(r.getAs[Long]("keep_id") >= 0))
  }

  test("q_events_dau_wau: wau bounds dau, stickiness in (0,1], dau recomputes") {
    import s.implicits._
    val out = EventsOps.q_events_dau_wau(s, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("wau") >= r.getAs[Long]("dau"), s"wau < dau: $r")
      val st = r.getAs[Double]("stickiness")
      assert(st > 0.0 && st <= 1.0, s"stickiness out of range: $r")
    }
    val dauDirect = Tables.events(s, sf)
      .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      .groupBy("day").count().as[(java.sql.Date, Long)].collect().toMap
    out.foreach { r =>
      assert(r.getAs[Long]("dau") == dauDirect(r.getAs[java.sql.Date]("day")),
        s"dau mismatch at ${r.getAs[java.sql.Date]("day")}")
    }
  }

  test("q_events_ohlc: bars bound their opens/closes and volumes sum to the event count") {
    val out = EventsOps.q_events_ohlc(s, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (o, h, l, c) = (r.getAs[Double]("open"), r.getAs[Double]("high"),
        r.getAs[Double]("low"), r.getAs[Double]("close"))
      assert(l <= o && o <= h, s"open outside [low, high]: $r")
      assert(l <= c && c <= h, s"close outside [low, high]: $r")
      assert(r.getAs[Long]("n_events") >= 1)
    }
    assert(out.map(_.getAs[Long]("n_events")).sum == Tables.events(s, sf).count())
  }

  test("determinism: double-run byte-identical output for representative queries") {
    for (name <- Seq("q_agg_hash", "q_win_running", "q_graph_conductance",
        "q_sim_cosine_topk", "q_dedup_shingle",
        // the round-7 iterative additions: loop-driven plans re-derive per
        // run, so double-run identity is the cheapest guard against any
        // nondeterministic fixpoint
        "q_graph_kcore", "q_graph_bfs", "q_dedup_lsh_cluster",
        // round-7 new-query sweep: struct-min picks (ohlc), LIMIT cuts
        // (containment/lines), CC-derived labels (modularity), and the
        // salted two-phase agg all have tie-shaped failure modes that only
        // a repeated run exposes
        "q_events_ohlc", "q_events_streak", "q_dedup_containment",
        "q_dedup_lines", "q_graph_modularity", "q_agg_salted",
        // round-8: real-codec mapPartitions passes must not depend on
        // partitioning or iteration order
        "q_multimodal_audio", "q_multimodal_image")) {
      val fn = SparkEntry.queries(name)
      val a = fn(s, sf).collect().map(_.toString).toSeq
      val b = fn(s, sf).collect().map(_.toString).toSeq
      assert(a == b, s"$name not deterministic across runs")
      assert(a.nonEmpty, s"$name returned no rows")
    }
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(s).count() > 0)
  }
}
