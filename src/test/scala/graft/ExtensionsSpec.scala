package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.similarity.Similarity
import graft.multimodal.Multimodal
import graft.text.TextAnalysis

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ------------------------------------------------------------- text
  test("langId detects planted languages and falls back to und") {
    val df = Seq(
      (1L, "the cat sat on the mat and it is warm"),
      (2L, "der hund ist nicht mit der katze"),
      (3L, "le chat est dans la maison pour toujours"),
      (4L, "zzz qqq xxx")).toDF("id", "text")
      .select($"id", TextAnalysis.langId($"text").as("lang"))
    val got = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "und"))
  }

  test("quality score stays in [0,1] and favors clean prose") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and keeps running for a while"),
      (2L, "!!! ### $$$ %%% ^^^ &&&")).toDF("id", "text")
      .select($"id", TextAnalysis.qualityScore($"text").as("q"))
    val got = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.values.forall(q => q >= 0.0 && q <= 1.0))
    assert(got(1L) > got(2L))
  }

  // ------------------------------------------------------------ dedup
  test("exact dedup keeps the minimum id per duplicate group") {
    val df = Seq((5L, "Hello  World"), (2L, "hello world"), (9L, "other"))
      .toDF("doc_id", "text")
    val kept = Dedup.exactDedup(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept === Array(2L, 9L)) // 5 is a whitespace/case dup of 2
  }

  test("minhash LSH surfaces a planted near-duplicate pair") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val df = Seq(
      (1L, base), (2L, base + " phi"), // near-dup of 1
      (3L, "completely different words entirely unrelated content here now"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(df, "doc_id", "text", k = 16, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("incremental dedup classifies a crawl batch against the history " +
      "index: exact_hist / near_hist / kept") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val hist = Seq((1L, base),
      (2L, "some other historical document body entirely"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "  ALPHA beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon "), // exact (fp
      // normalizes case/whitespace)
      (11L, "upsilon tau sigma rho pi omicron xi nu mu lambda kappa iota " +
        "theta eta zeta epsilon delta gamma beta alpha"), // same token SET
      // reordered: every minhash equal -> all bands collide -> near
      (12L, "fresh previously unseen content with disjoint vocabulary"))
      .toDF("doc_id", "text")
    val idx = Dedup.dedupIndex(hist, "doc_id", "text", k = 16, bands = 4)
    val got = Dedup.incrementalStatus(batch, idx, "doc_id", "text",
        k = 16, bands = 4)
      .select($"doc_id", $"status")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(10L -> "exact_hist", 11L -> "near_hist",
      12L -> "kept"))
  }

  test("bloom incremental dedup: one-sided error vs the exact index, " +
      "deterministic, and map-only") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(3)) === 0)
      .select($"doc_id", $"text")
    val exact = Dedup.incrementalStatus(batch,
        Dedup.dedupIndex(hist, "doc_id", "text", k = 16, bands = 2),
        "doc_id", "text", k = 16, bands = 2)
      .select($"doc_id", $"status")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val idx = graft.dedup.BloomIndex.build(hist, "text",
      expectedItems = 5000, fpp = 0.001, k = 16, bands = 2)
    val bloomDf = graft.dedup.BloomIndex
      .classify(batch, idx, "text")
    val bloom = bloomDf.select($"doc_id", $"status")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // no false negatives: every bloom `kept` is exactly kept; a true
    // dup can never leak through
    bloom.foreach { case (id, st) =>
      if (st == "kept") assert(exact(id) === "kept", s"doc $id")
    }
    // the error really is one-sided AND rare: full agreement bar at
    // most a fpp-sized handful of kept->hist misclassifications
    val disagree = bloom.count { case (id, st) => exact(id) != st }
    assert(disagree <= math.max(2, (0.01 * bloom.size).toInt),
      s"$disagree/${bloom.size} disagreements")
    // deterministic (OR-merged bits, order-independent)
    val again = graft.dedup.BloomIndex
      .classify(batch.repartition(7),
        graft.dedup.BloomIndex.build(hist.repartition(5), "text",
          expectedItems = 5000, fpp = 0.001, k = 16, bands = 2),
        "text")
      .select($"doc_id", $"status")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again === bloom)
    // map-only: classification adds no DATA-DEPENDENT shuffle (no hash/
    // range exchange — no join, no agg). A round-robin repartition may
    // appear on toy single-file scans: that's Tables.spread widening the
    // input so the per-row minhash chain parallelizes (r10); at real
    // scale file splits exceed cores and it's a no-op.
    val planStr = bloomDf.queryExecution.executedPlan.toString
    assert(!planStr.contains("hashpartitioning") &&
      !planStr.contains("rangepartitioning"))
  }

  test("semantic incremental dedup: re-crawls caught at sim 1.0, status " +
      "partitions on the threshold, empty text stays kept") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val idx = Dedup.semanticIndex(hist, "doc_id", "text")
    // batch: fresh docs + re-crawls of unchanged history pages under
    // crawl ids (+100000) + one empty doc (embeds to the zero vector)
    val batch = docs.filter(pmod($"doc_id", lit(3)) === 0)
      .select($"doc_id", $"text")
      .unionByName(hist.filter(pmod($"doc_id", lit(10)) === 1)
        .select(($"doc_id" + 100000).as("doc_id"), $"text"))
      .unionByName(Seq((900000L, "")).toDF("doc_id", "text"))
    val out = Dedup.semanticStatus(batch, idx, "doc_id", "text")
      .select($"doc_id", $"status", $"best_sim").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    // every re-crawl embeds identically to its history page: the index
    // MUST catch all of them at exactly 1.0 — the dup class this leg
    // exists for
    val recrawls = out.filter(_._1 >= 100000L).filter(_._1 < 900000L)
    assert(recrawls.nonEmpty)
    recrawls.foreach { case (id, (st, sim)) =>
      assert(st === "sem_hist" && sim === 1.0, s"re-crawl $id: $st $sim")
    }
    // the status column IS the threshold partition of best_sim
    out.foreach { case (id, (st, sim)) =>
      assert(st === (if (sim >= 0.995) "sem_hist" else "kept"),
        s"doc $id: $st vs sim $sim")
    }
    // zero-vector doc scores 0 everywhere and stays kept
    assert(out(900000L) === ("kept", 0.0))
  }

  test("semantic index append: grown index catches cross-increment " +
      "re-crawls, caller's index untouched") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val idx0 = Dedup.semanticIndex(hist, "doc_id", "text")
    val inc1 = docs.filter(pmod($"doc_id", lit(3)) === 0)
      .select($"doc_id", $"text")
    val kept1 = Dedup.semanticStatus(inc1, idx0, "doc_id", "text")
      .filter($"status" === "kept").select($"doc_id", $"text")
    assert(kept1.count() > 0, "vacuous: no kept docs to append")
    // inc2 re-crawls every inc1-KEPT page under fresh ids
    val inc2 = kept1.select(($"doc_id" + 200000).as("doc_id"), $"text")
    val idx1 = Dedup.semanticAppend(idx0, kept1, "doc_id", "text")
    val grown = Dedup.semanticStatus(inc2, idx1, "doc_id", "text")
      .select($"doc_id", $"status", $"best_sim").collect()
    grown.foreach { r =>
      assert(r.getString(1) === "sem_hist" && r.getDouble(2) === 1.0,
        s"re-crawl ${r.getLong(0)} leaked off the grown index")
    }
    // append did NOT mutate the caller's index: the same re-crawls stay
    // kept against idx0 (they were novel vs HISTORY by construction)
    val old = Dedup.semanticStatus(inc2, idx0, "doc_id", "text")
      .groupBy($"status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(old.getOrElse("kept", 0L) === grown.length.toLong)
  }

  test("two-level quantizer with ONE coarse cell IS the flat quantizer: " +
      "same trained vectors, same assignment membership") {
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val k = 8
    val seeds = emb.orderBy(xxhash64($"c_id"), $"c_id").limit(k)
      .select($"c_id".as("cent_id"), $"c_vec".as("cent_vec"))
    val flat = Similarity.trainIvfCentroids(emb, seeds, iterations = 2)
    val tl = Similarity.trainTwoLevelCentroids(emb, coarseK = 1, fineK = k,
      iterations = 2)
    // flat keeps source ids as cent_id; the two-level fine level numbers
    // 0..k-1 in the SAME hash-seed order — map rank -> source id to pair
    // them up, then the trained vectors must agree bit-for-bit (same
    // seeds, same argmax semantics per NativeExprSpec, same decimal
    // means)
    val rankToId = seeds.select($"cent_id").collect().map(_.getLong(0))
    val flatVecs = flat.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val tlVecs = tl.flat.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(tlVecs.size === k)
    tlVecs.foreach { case (rank, v) =>
      assert(v === flatVecs(rankToId(rank.toInt)),
        s"fine centroid $rank drifted from flat ${rankToId(rank.toInt)}")
    }
    // assignment membership: every vector routes to the SAME centroid
    // under both forms (modulo the rank<->id renumbering)
    val vs = emb.select($"c_id".as("v_id"), $"c_vec".as("v_vec"))
    val flatAsg = Similarity.assignToCentroids(vs, flat)
      .select($"v_id", $"cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tlAsg = Similarity.assignTwoLevel(vs, tl)
      .select($"v_id", $"cent_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tlAsg.size === flatAsg.size)
    tlAsg.foreach { case (id, rank) =>
      assert(rankToId(rank.toInt) === flatAsg(id),
        s"vector $id assigned differently: rank $rank vs ${flatAsg(id)}")
    }
  }

  test("two-level trainer past the driver-literal budget falls back to " +
      "the DISTRIBUTED fine level with bit-identical training and " +
      "assignment (r15 — the guard used to refuse here)") {
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    // kTot*dim*8 for this fixture's dim comfortably exceeds 1 KB, so
    // the 1 KB budget forces the fallback on a geometry small enough
    // to ALSO train literally — the parity oracle
    val lit = Similarity.trainTwoLevelCentroids(emb, coarseK = 4,
      fineK = 4, iterations = 2)
    val dist = Similarity.trainTwoLevelCentroids(emb, coarseK = 4,
      fineK = 4, iterations = 2, fineLitBytes = 1L << 10)
    assert(lit.literalOk && !dist.literalOk)
    assert(dist.fineK === lit.fineK)
    // trained fine centroids bit-identical (same seeds, same join-form
    // argmax the literal expression is parity-pinned against, same
    // exact-decimal means, same keep-position merge)
    def fineRows(tl: Similarity.TwoLevelQuantizer): Map[(Long, Long), Seq[Double]] =
      tl.fine.collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2)).toMap
    val lf = fineRows(lit)
    val df = fineRows(dist)
    assert(df.keySet === lf.keySet)
    df.foreach { case (k, v) =>
      assert(v === lf(k), s"fine centroid $k drifted in the fallback") }
    // and the join-form assignment routes every vector to the SAME
    // flattened cent_id as the literal expression
    val vs = emb.select($"c_id".as("v_id"), $"c_vec".as("v_vec"))
    def asg(tl: Similarity.TwoLevelQuantizer): Map[Long, Long] =
      Similarity.assignTwoLevel(vs, tl)
        .select($"v_id", $"cent_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val la = asg(lit)
    val da = asg(dist)
    assert(da === la, "fallback assignment diverged from the literal path")
  }

  test("semanticIndex hier path (forced): re-crawls still caught at 1.0, " +
      "threshold partition holds, statuses match the flat path") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    // hierThreshold=0 forces the two-level build on the same history the
    // flat path indexes — the classification CONTRACT must be identical
    // even though the quantizer shape (and so bucket ids) differs
    val hierIdx = Dedup.semanticIndex(hist, "doc_id", "text",
      hierThreshold = 0L)
    val flatIdx = Dedup.semanticIndex(hist, "doc_id", "text")
    val batch = docs.filter(pmod($"doc_id", lit(3)) === 0)
      .select($"doc_id", $"text")
      .unionByName(hist.filter(pmod($"doc_id", lit(10)) === 1)
        .select(($"doc_id" + 100000).as("doc_id"), $"text"))
    def statuses(idx: Dedup.SemanticIndex): Map[Long, (String, Double)] =
      Dedup.semanticStatus(batch, idx, "doc_id", "text")
        .select($"doc_id", $"status", $"best_sim").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val hier = statuses(hierIdx)
    val flat = statuses(flatIdx)
    // exact re-crawls cannot escape the hier probe: the own-cell union
    // guarantees an identical vector's bucket is probed
    val recrawls = hier.filter(_._1 >= 100000L)
    assert(recrawls.nonEmpty)
    recrawls.foreach { case (id, (st, sim)) =>
      assert(st === "sem_hist" && sim === 1.0, s"re-crawl $id: $st $sim")
    }
    hier.foreach { case (id, (st, sim)) =>
      assert(st === (if (sim >= 0.995) "sem_hist" else "kept"),
        s"doc $id: $st vs sim $sim")
    }
    // same classification as the flat index on this corpus (sub-
    // threshold audit columns may differ — different probe geometry)
    assert(hier.view.mapValues(_._1).toMap ===
      flat.view.mapValues(_._1).toMap)
  }

  test("literalOk=false index: probe selection, classify, stored classify " +
      "and drift all route DISTRIBUTED with bit parity to the literal " +
      "path (r16 — before this only assign routed, and the first stored " +
      "classify collected the whole fine table through centroidLit)") {
    import graft.similarity.Similarity
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(3)) === 0)
      .select($"doc_id", $"text")
      .unionByName(hist.filter(pmod($"doc_id", lit(10)) === 1)
        .select(($"doc_id" + 100000).as("doc_id"), $"text"))
    // same geometry, one past a 1 KB driver-literal budget: training is
    // bit-identical (r15 fallback-parity test above), so EVERY
    // downstream difference is the consumer routing under test
    val litIdx = Dedup.semanticIndex(hist, "doc_id", "text",
      hierThreshold = 0L)
    val distIdx = Dedup.semanticIndex(hist, "doc_id", "text",
      hierThreshold = 0L, fineLitBytes = 1L << 10)
    assert(litIdx.quantizer.literalCents)
    assert(!distIdx.quantizer.literalCents)
    // probe selection parity, directly: the join form against the SAME
    // fine frame ranks every query's top-nProbe cells identically to
    // the literal generate chain (same rounding, same neg_id tie-break)
    val (litTl, distTl) = (litIdx.quantizer, distIdx.quantizer) match {
      case (Similarity.TwoLevelCoarse(a), Similarity.TwoLevelCoarse(b)) =>
        (a, b)
      case other => fail(s"expected two-level quantizers, got $other")
    }
    val q = graft.text.TextAnalysis
      .hashedEmbeddings(batch, "doc_id", "text", litIdx.model.dim)
      .select($"doc_id".as("q_id"), $"embedding".as("q_vec"))
    def probes(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"q_id", $"cent_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probes(Similarity.probeTopTwoLevelJoin(q, distTl, 3)) ===
      probes(Similarity.probeTopLiteral(q, litTl.flat, 3)))
    // classify parity — FULL rows including the audit columns: the
    // geometry is identical, so the shuffle_hash residual training,
    // distributed encode, join-form probe selection and non-broadcast
    // ⟨q,c⟩ join must reproduce the literal classification exactly
    def rows(idx: Dedup.SemanticIndex): Set[Seq[Any]] =
      Dedup.semanticStatus(batch, idx, "doc_id", "text")
        .select($"doc_id", $"status", $"match_id", $"best_sim")
        .collect().map(_.toSeq).toSet
    val litRows = rows(litIdx)
    assert(rows(distIdx) === litRows)
    // the STORED cycle (the advisor's failing path): save keeps the
    // joinassign marker, load reconstructs literalCents=false, and the
    // first stored classify runs distributed end-to-end — no
    // collectCentroids cap, no driver-side fine table
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semio_joinassign").toString
    try {
      graft.dedup.SemanticIndexIO.save(distIdx, dir)
      val loaded = graft.dedup.SemanticIndexIO.load(spark, dir)
      assert(!loaded.quantizer.literalCents)
      val stored = Dedup.semanticStatusStored(spark, dir, batch,
          "doc_id", "text")
        .select($"doc_id", $"status", $"match_id", $"best_sim")
        .collect().map(_.toSeq).toSet
      assert(stored === litRows)
      Dedup.releaseStoredClassifyCache()
    } finally Tables.deleteTree(java.nio.file.Paths.get(dir))
    // drift probe routes its centroid join shuffle_hash and reads the
    // same stats (double sums collected per cell — compare with a
    // tolerance, counts exactly)
    val dLit = Dedup.semanticDrift(litIdx, batch, "doc_id", "text")
    val dDist = Dedup.semanticDrift(distIdx, batch, "doc_id", "text")
    assert(dDist.rows === dLit.rows)
    assert(dDist.cellsHit === dLit.cellsHit)
    assert(dDist.cells === dLit.cells)
    assert(math.abs(dDist.meanAssignCos - dLit.meanAssignCos) < 1e-9)
    assert(math.abs(dDist.topShare - dLit.topShare) < 1e-9)
  }

  test("semantic index round-trips storage: load(save(idx)) classifies " +
      "bit-identically, both quantizer shapes") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(3)) === 0)
      .select($"doc_id", $"text")
      .unionByName(hist.filter(pmod($"doc_id", lit(10)) === 1)
        .select(($"doc_id" + 100000).as("doc_id"), $"text"))
    def rows(idx: Dedup.SemanticIndex): Set[Seq[Any]] =
      Dedup.semanticStatus(batch, idx, "doc_id", "text")
        .select($"doc_id", $"status", $"match_id", $"best_sim")
        .collect().map(_.toSeq).toSet
    val shapes = Seq(
      ("flat", Dedup.semanticIndex(hist, "doc_id", "text")),
      ("twolevel",
        Dedup.semanticIndex(hist, "doc_id", "text", hierThreshold = 0L)))
    shapes.foreach { case (tag, idx) =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_semio_$tag").toString
      try {
        graft.dedup.SemanticIndexIO.save(idx, dir)
        val loaded = graft.dedup.SemanticIndexIO.load(spark, dir)
        assert(loaded.quantizer.getClass === idx.quantizer.getClass, tag)
        // full output parity including the audit columns: quantizer,
        // codebooks, codes, and vectors all survived storage exactly
        assert(rows(loaded) === rows(idx), tag)
        // the loaded index still GROWS — the between-increments op a
        // restarted deployment performs next
        val grown = Dedup.semanticAppend(loaded,
          batch.limit(5), "doc_id", "text")
        val grownN = loaded.codes.count() + 5
        assert(grown.codes.count() === grownN)
        // and the FULL checkpoint cycle closes IN PLACE: saving the
        // grown index back to the directory it was loaded from (whose
        // files its own lineage still reads — the staging swap exists
        // for exactly this), then loading again. Expected rows are
        // captured BEFORE the save: the swap replaces the files under
        // the pre-save object's lineage, so after a checkpoint the
        // RELOADED handle is the live one (standard checkpoint
        // semantics, documented on save)
        val grownRows = rows(grown)
        graft.dedup.SemanticIndexIO.save(grown, dir)
        val reloaded = graft.dedup.SemanticIndexIO.load(spark, dir)
        assert(reloaded.codes.count() === grownN, tag)
        assert(rows(reloaded) === grownRows, tag)
      } finally Tables.deleteTree(java.nio.file.Paths.get(dir))
    }
  }

  test("stored-index crash window: a partial next generation is invisible " +
      "to load() and swept by the next save()") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val idx = Dedup.semanticIndex(hist, "doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semio_crash").toString
    try {
      graft.dedup.SemanticIndexIO.save(idx, dir) // commits gen=0
      // simulate a save that died mid-write: a partial gen=1 tree
      // exists (codes only — the mixed-generation state the atomic
      // pointer exists to mask) but CURRENT was never flipped
      val partial = java.nio.file.Paths.get(dir, "gen=1", "codes")
      java.nio.file.Files.createDirectories(partial)
      java.nio.file.Files.write(partial.resolve("garbage.parquet"),
        Array[Byte](1, 2, 3))
      val loaded = graft.dedup.SemanticIndexIO.load(spark, dir)
      // load() serves the committed generation, untouched by the debris
      assert(loaded.codes.count() === idx.codes.count())
      // the next save sweeps the partial tree and commits OVER it
      graft.dedup.SemanticIndexIO.save(loaded, dir)
      val reloaded = graft.dedup.SemanticIndexIO.load(spark, dir)
      assert(reloaded.codes.count() === idx.codes.count())
      assert(!java.nio.file.Files.exists(partial.resolve("garbage.parquet")),
        "crashed-save debris survived the sweep")
    } finally Tables.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("appendSave with an EMPTY increment commits a watermark-only " +
      "generation: no unreadable fragment, store still loads and grows") {
    // an all-dup / all-empty-text folded tail is a normal stretch of a
    // re-crawl-heavy stream; an empty partitionBy write leaves a dir
    // with no parquet files, and a committed manifest referencing it
    // would brick every later load (r13 review finding)
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
      .select($"doc_id", $"text")
    val idx = Dedup.semanticIndex(hist, "doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semio_emptyinc").toString
    try {
      graft.dedup.SemanticIndexIO.save(idx, dir, note = "0")
      val loaded = graft.dedup.SemanticIndexIO.load(spark, dir)
      val n0 = loaded.codes.count()
      val frags0 = graft.dedup.SemanticIndexIO.fragmentCount(spark, dir)
      val emptyInc = docs.filter(lit(false)).select($"doc_id", $"text")
      graft.dedup.SemanticIndexIO.appendSave(spark, dir,
        Dedup.semanticEncode(loaded, emptyInc, "doc_id", "text"),
        note = "1")
      // the generation committed (watermark advanced) but added no
      // fragment — and the store is still fully readable
      assert(graft.dedup.SemanticIndexIO.note(spark, dir) === "1")
      assert(graft.dedup.SemanticIndexIO.fragmentCount(spark, dir)
        === frags0)
      val re = graft.dedup.SemanticIndexIO.load(spark, dir)
      assert(re.codes.count() === n0)
      // a real append on top still works
      val inc = docs.filter(pmod($"doc_id", lit(3)) === 0).limit(20)
        .select(($"doc_id" + 700000L).as("doc_id"), $"text")
      graft.dedup.SemanticIndexIO.appendSave(spark, dir,
        Dedup.semanticEncode(re, inc, "doc_id", "text"), note = "2")
      assert(graft.dedup.SemanticIndexIO.fragmentCount(spark, dir)
        === frags0 + 1)
      assert(graft.dedup.SemanticIndexIO.load(spark, dir).codes.count()
        > n0)
      // layout version guard: a store written by a different layout
      // generation refuses with the versions named, not a raw
      // path/schema error deep in a scan
      // raw overwrite outside the Hadoop fs: drop its checksum sidecar
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, ".FORMAT.crc"))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "FORMAT"),
        "1".getBytes("UTF-8"))
      val exFmt = intercept[IllegalStateException] {
        graft.dedup.SemanticIndexIO.load(spark, dir)
      }
      assert(exFmt.getMessage.contains("layout version 1"),
        s"wrong refusal: ${exFmt.getMessage}")
    } finally Tables.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("stored-index writer lease: a second writer refuses loudly with " +
      "the holder named; breakLease recovers; clean cycles leave no lease") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0).limit(60)
    val idx = Dedup.semanticIndex(hist, "doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semio_lease").toString
    try {
      graft.dedup.SemanticIndexIO.save(idx, dir)
      // a successful writer releases: no lease file after the cycle
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_writer.lease")))
      // simulate a concurrent (or crashed) writer holding the lease
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_writer.lease"),
        "host=otherhost pid=4242 since=test".getBytes("UTF-8"))
      val inc = docs.filter(pmod($"doc_id", lit(3)) === 0).limit(10)
      val enc = Dedup.semanticEncode(idx, inc, "doc_id", "text")
      Seq[() => Unit](
        () => graft.dedup.SemanticIndexIO.save(idx, dir),
        () => graft.dedup.SemanticIndexIO.appendSave(spark, dir, enc),
        () => graft.dedup.SemanticIndexIO.compact(spark, dir),
      ).foreach { w =>
        val ex = intercept[IllegalStateException](w())
        assert(ex.getMessage.contains("pid=4242"),
          s"refusal must name the holder: ${ex.getMessage}")
        assert(ex.getMessage.contains("breakLease"))
      }
      // the refusals committed nothing: still one generation, one frag
      assert(graft.dedup.SemanticIndexIO.fragmentCount(spark, dir) === 1)
      graft.dedup.SemanticIndexIO.breakLease(spark, dir)
      graft.dedup.SemanticIndexIO.appendSave(spark, dir, enc)
      assert(graft.dedup.SemanticIndexIO.fragmentCount(spark, dir) === 2)
    } finally Tables.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("writer-lease fencing: a stale writer resumed after breakLease " +
      "refuses loudly at the fence and commits nothing (r15)") {
    import org.apache.spark.sql.functions.udf
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0).limit(60)
    val idx = Dedup.semanticIndex(hist, "doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semio_fence").toString
    val gate = java.nio.file.Paths.get(dir + "_gate")
    try {
      graft.dedup.SemanticIndexIO.save(idx, dir, note = "g0")
      val inc = docs.filter(pmod($"doc_id", lit(3)) === 0).limit(10)
      val enc = Dedup.semanticEncode(idx, inc, "doc_id", "text")
        .persist()
      enc.count()
      // writer A: its increment BLOCKS mid-evaluation until the gate
      // file appears — the GC-pause/NFS-stall shape the breakLease
      // scaladoc warns about, held open deterministically. The closure
      // captures the PATH STRING (a Path is not serializable)
      val gateStr = gate.toString
      val waitForGate = udf((id: Long) => {
        val deadline = System.nanoTime() + 120L * 1000000000L
        while (!java.nio.file.Files.exists(
                 java.nio.file.Paths.get(gateStr)) &&
               System.nanoTime() < deadline) Thread.sleep(100)
        id
      })
      val encSlow = enc.withColumn("c_id", waitForGate($"c_id"))
      val aErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val tA = new Thread(() =>
        try graft.dedup.SemanticIndexIO.appendSave(spark, dir, encSlow,
          note = "A")
        catch { case t: Throwable => aErr.set(t) })
      tA.start()
      val leaseP = java.nio.file.Paths.get(dir, "_writer.lease")
      val tWait = System.nanoTime() + 60L * 1000000000L
      while (!java.nio.file.Files.exists(leaseP) && tA.isAlive &&
             System.nanoTime() < tWait) Thread.sleep(50)
      assert(java.nio.file.Files.exists(leaseP), "writer A never acquired")
      // give A time to reach the blocking evaluation, then presume it
      // dead (the operator's mistake), break, and let writer B commit
      Thread.sleep(1500)
      graft.dedup.SemanticIndexIO.breakLease(spark, dir)
      graft.dedup.SemanticIndexIO.appendSave(spark, dir, enc, note = "B")
      assert(graft.dedup.SemanticIndexIO.note(spark, dir) === "B")
      // resurrect A: it must FENCE (its lease observed gen 0; the store
      // is at gen 1+) instead of committing over B
      java.nio.file.Files.write(gate, Array.empty[Byte])
      tA.join(120000)
      assert(!tA.isAlive, "writer A hung")
      val err = aErr.get()
      assert(err != null, "stale writer A committed instead of fencing")
      assert(err.isInstanceOf[IllegalStateException] &&
        err.getMessage.contains("STALE WRITER"),
        s"wrong failure from the resumed stale writer: $err")
      // B's commit is intact; A committed nothing
      assert(graft.dedup.SemanticIndexIO.note(spark, dir) === "B")
      assert(graft.dedup.SemanticIndexIO.fragmentCount(spark, dir) === 2)
      enc.unpersist()
    } finally {
      java.nio.file.Files.deleteIfExists(gate)
      Tables.deleteTree(java.nio.file.Paths.get(dir))
    }
  }

  test("appendSave drift probe: first probed increment records the " +
      "baseline, a drifted one reports drifted=true and lands in " +
      "stats(); a full save resets the baseline (r15)") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val idx = Dedup.semanticIndex(hist, "doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semio_drift").toString
    try {
      graft.dedup.SemanticIndexIO.save(idx, dir, note = "g0")
      val inc = docs.filter(pmod($"doc_id", lit(3)) === 0)
        .select($"doc_id", $"text")
      val r1 = graft.dedup.SemanticIndexIO.appendSave(spark, dir,
        Dedup.semanticEncode(idx, inc, "doc_id", "text"),
        note = "n1", driftProbe = true)
      assert(r1.isDefined && r1.get.isBaseline && !r1.get.drifted)
      assert(r1.get.stats.rows > 0)
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_drift_baseline.txt")))
      val st1 = graft.dedup.SemanticIndexIO.stats(spark, dir)
      assert(st1.drift.isDefined && !st1.drift.get.drifted)
      // drifted increment: re-keyed token space (the semanticDrift
      // spec's shape — meanAssignCos collapses well past the 90% line)
      val drifted = inc
        .select(($"doc_id" + 500000L).as("doc_id"),
          translate($"text", "aeiouAEIOU", "qxzvwQXZVW").as("text"))
      val idx1 = graft.dedup.SemanticIndexIO.load(spark, dir)
      val r2 = graft.dedup.SemanticIndexIO.appendSave(spark, dir,
        Dedup.semanticEncode(idx1, drifted, "doc_id", "text"),
        note = "n2", driftProbe = true)
      assert(r2.isDefined && !r2.get.isBaseline)
      assert(r2.get.drifted,
        s"re-keyed increment did not trip the drift thresholds: ${r2.get}")
      assert(r2.get.stats.meanAssignCos <
        0.9 * r2.get.baselineMeanCos || r2.get.stats.topShare >
        3.0 * r2.get.baselineTopShare)
      val st2 = graft.dedup.SemanticIndexIO.stats(spark, dir)
      assert(st2.drift.isDefined && st2.drift.get.drifted)
      assert(st2.note === "n2")
      // the probe never alters data: the committed rows equal the two
      // encoded increments' rows
      assert(graft.dedup.SemanticIndexIO.fragmentCount(spark, dir) === 3)
      // a full save (where a retrained quantizer arrives) resets the
      // baseline; the next probed increment re-records it
      graft.dedup.SemanticIndexIO.save(
        graft.dedup.SemanticIndexIO.load(spark, dir), dir, note = "g1")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "_drift_baseline.txt")),
        "full save must reset the drift baseline")
      // a TRUNCATED baseline (crash mid-write — the file is written
      // create-in-place) must read as ABSENT, not wedge every later
      // probed appendSave with a MatchError (r16): the next probe
      // re-records it and reports isBaseline
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_drift_baseline.txt"),
        "0.87".getBytes("UTF-8"))
      val idx2 = graft.dedup.SemanticIndexIO.load(spark, dir)
      val r3 = graft.dedup.SemanticIndexIO.appendSave(spark, dir,
        Dedup.semanticEncode(idx2,
          inc.select(($"doc_id" + 900000L).as("doc_id"), $"text"),
          "doc_id", "text"),
        note = "n3", driftProbe = true)
      assert(r3.isDefined && r3.get.isBaseline && !r3.get.drifted,
        s"truncated baseline must re-record, got $r3")
      // and the re-recorded file parses again
      val re = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_drift_baseline.txt")), "UTF-8")
      assert(re.trim.split("\\s+").length === 2, s"re-recorded '$re'")
    } finally Tables.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("save of an EMPTY index commits a data-less generation: loads as " +
      "empty frames, classifies everything kept, and grows from there") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0).limit(60)
    val idx = Dedup.semanticIndex(hist, "doc_id", "text")
    val empty = idx.copy(codes = idx.codes.filter(lit(false)),
      vectors = idx.vectors.filter(lit(false)))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semio_empty").toString
    try {
      graft.dedup.SemanticIndexIO.save(empty, dir, note = "w0")
      assert(graft.dedup.SemanticIndexIO.fragmentCount(spark, dir) === 0)
      val loaded = graft.dedup.SemanticIndexIO.load(spark, dir)
      assert(loaded.codes.count() === 0L)
      assert(loaded.vectors.count() === 0L)
      // classification against nothing keeps everything
      val batch = docs.filter(pmod($"doc_id", lit(3)) === 0).limit(10)
      val st = Dedup.semanticStatus(batch, loaded, "doc_id", "text")
        .select($"status").distinct().collect().map(_.getString(0))
      assert(st.toSet === Set("kept"))
      // the stored-classify path handles the data-less store too
      val st2 = Dedup.semanticStatusStored(spark, dir, batch,
        "doc_id", "text").select($"status").distinct()
        .collect().map(_.getString(0))
      assert(st2.toSet === Set("kept"))
      // and the first non-empty append starts the fragment history
      val enc = Dedup.semanticEncode(idx, batch, "doc_id", "text")
      graft.dedup.SemanticIndexIO.appendSave(spark, dir, enc, note = "w1")
      assert(graft.dedup.SemanticIndexIO.fragmentCount(spark, dir) === 1)
      assert(graft.dedup.SemanticIndexIO.load(spark, dir).codes.count()
        === enc.count())
    } finally Tables.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("appendSave auto-compact: crossing compactPastFragments folds to " +
      "one fragment with bit-identical classification and the note kept") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0).limit(80)
    val idx = Dedup.semanticIndex(hist, "doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semio_autocompact").toString
    try {
      graft.dedup.SemanticIndexIO.save(idx, dir, note = "b")
      val incs = docs.filter(pmod($"doc_id", lit(3)) === 0).limit(20)
        .collect().grouped(10).toSeq
      val inc1 = spark.createDataFrame(
        spark.sparkContext.parallelize(incs(0).toSeq), incs(0).head.schema)
      val inc2 = spark.createDataFrame(
        spark.sparkContext.parallelize(incs(1).toSeq), incs(1).head.schema)
      // 1 -> 2 fragments: at the threshold, no fold
      graft.dedup.SemanticIndexIO.appendSave(spark, dir,
        Dedup.semanticEncode(idx, inc1, "doc_id", "text"),
        note = "n1", compactPastFragments = 2)
      assert(graft.dedup.SemanticIndexIO.fragmentCount(spark, dir) === 2)
      val batch = docs.filter(pmod($"doc_id", lit(7)) === 1).limit(15)
      def classify(): Set[Seq[Any]] =
        Dedup.semanticStatus(batch,
            graft.dedup.SemanticIndexIO.load(spark, dir), "doc_id", "text")
          .select($"doc_id", $"status", $"match_id", $"best_sim")
          .collect().map(_.toSeq).toSet
      // 2 -> 3 fragments crosses the threshold: folds back to 1. The
      // EXPECTED classification (unfolded in-memory append of inc2) is
      // collected BEFORE the fold — after a save the reloaded handle is
      // the live one (checkpoint semantics), so pre-fold handles must
      // not be read afterwards
      val idx2 = graft.dedup.SemanticIndexIO.load(spark, dir)
      val enc2 = Dedup.semanticEncode(idx2, inc2, "doc_id", "text")
        .persist()
      val unfolded = Dedup.semanticAppendEncoded(idx2, enc2)
      val expect = Dedup.semanticStatus(batch, unfolded, "doc_id", "text")
        .select($"doc_id", $"status", $"match_id", $"best_sim")
        .collect().map(_.toSeq).toSet
      graft.dedup.SemanticIndexIO.appendSave(spark, dir, enc2,
        note = "n2", compactPastFragments = 2)
      enc2.unpersist()
      assert(graft.dedup.SemanticIndexIO.fragmentCount(spark, dir) === 1)
      assert(graft.dedup.SemanticIndexIO.note(spark, dir) === "n2")
      val rows = graft.dedup.SemanticIndexIO.load(spark, dir).codes.count()
      assert(rows > 0)
      // the fold changed LAYOUT only: same classification afterwards
      assert(classify() === expect)
    } finally Tables.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("stats(): one call reports gen, fragments, rows per fragment, " +
      "cell shape, and the note of the committed generation") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0).limit(80)
    val idx = Dedup.semanticIndex(hist, "doc_id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semio_stats").toString
    try {
      graft.dedup.SemanticIndexIO.save(idx, dir, note = "w7")
      val inc = docs.filter(pmod($"doc_id", lit(3)) === 0).limit(10)
      graft.dedup.SemanticIndexIO.appendSave(spark, dir,
        Dedup.semanticEncode(idx, inc, "doc_id", "text"), note = "w8")
      val st = graft.dedup.SemanticIndexIO.stats(spark, dir)
      assert(st.gen === 1L)
      assert(st.fragments === 2)
      val rows = graft.dedup.SemanticIndexIO.load(spark, dir).codes.count()
      assert(st.rows === rows)
      assert(st.rowsPerFragment.size === 2)
      assert(st.rowsPerFragment.values.sum === rows)
      assert(st.cells > 0)
      assert(st.maxCellRows >= 1L)
      assert(st.meanCellRows > 0.0 && st.meanCellRows <= st.maxCellRows)
      assert(st.note === "w8")
    } finally Tables.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("semanticDrift: a re-keyed (drifted) increment reads a lower " +
      "mean assignment cosine than an in-distribution one") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val idx = Dedup.semanticIndex(hist, "doc_id", "text")
    val inc = docs.filter(pmod($"doc_id", lit(3)) === 0)
      .select($"doc_id", $"text")
    val base = Dedup.semanticDrift(idx, inc, "doc_id", "text")
    assert(base.rows > 0)
    assert(base.meanAssignCos > 0.0 && base.meanAssignCos <= 1.0 + 1e-9)
    assert(base.topShare >= 0.0 && base.topShare <= 1.0 + 1e-9)
    assert(base.cellsHit > 0 && base.cellsHit <= base.cells)
    // re-key the token space: every word hashes elsewhere, so the
    // increment's embeddings leave the training distribution
    val drifted = inc.withColumn("text",
      translate($"text", "aeiouAEIOU", "qxzvwQXZVW"))
    val d = Dedup.semanticDrift(idx, drifted, "doc_id", "text")
    assert(d.rows > 0)
    assert(d.meanAssignCos < base.meanAssignCos,
      s"drifted meanAssignCos ${d.meanAssignCos} should read below " +
        s"baseline ${base.meanAssignCos}")
  }

  test("composed increment order: identity legs catch byte-dup re-crawls " +
      "BEFORE the semantic leg sees them") {
    // The production crawl loop runs exact fp/band keys -> Bloom ->
    // semantic, in that order. Byte-identical re-crawls — the class
    // whose byte-equal PQ codes crowd the ADC candidate window under
    // replica-heavy histories (SemIncScaleMain factor 50: 2/334 escape
    // the tie-inclusive width) — are caught by the EXACT leg with no
    // width to escape: the semantic leg only ever sees identity-novel
    // docs, where its job is near-REWRITES, not byte dups.
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val recrawls = hist.filter(pmod($"doc_id", lit(10)) === 1)
      .select(($"doc_id" + 100000).as("doc_id"), $"text")
    val batch = docs.filter(pmod($"doc_id", lit(3)) === 0)
      .select($"doc_id", $"text")
      .unionByName(recrawls)
    val exact = Dedup.incrementalStatus(batch,
      Dedup.dedupIndex(hist, "doc_id", "text", k = 16, bands = 2),
      "doc_id", "text", k = 16, bands = 2)
    val recrawlStatuses = exact.filter($"doc_id" >= 100000L)
      .select($"status").collect().map(_.getString(0))
    assert(recrawlStatuses.nonEmpty)
    assert(recrawlStatuses.forall(_ === "exact_hist"),
      s"byte-dup re-crawl leaked past the exact leg: " +
        recrawlStatuses.groupBy(identity).view.mapValues(_.length).toMap)
    // the semantic leg consumes ONLY the identity-kept remainder —
    // no re-crawl id reaches it, and it still classifies every
    // remaining doc (non-vacuous composition)
    val rest = exact.filter($"status" === "kept")
      .select($"doc_id", $"text")
    assert(rest.filter($"doc_id" >= 100000L).count() === 0L)
    val restN = rest.count()
    assert(restN > 0)
    val sem = Dedup.semanticStatus(rest,
      Dedup.semanticIndex(hist, "doc_id", "text"), "doc_id", "text")
    assert(sem.count() === restN)
  }

  test("semDedupHier: one output row per input, keep iff own group, and " +
      "a 1x1 quantizer degrades to the flat single-cluster semantics") {
    val emb = Tables.embeddings(spark, sf)
    val hier = Similarity.semDedupHier(emb, "vec_id", threshold = 0.99,
      coarseK = 16, fineK = 4, iterations = 1)
    val rows = hier.collect()
    assert(rows.length === emb.count())
    rows.foreach { r =>
      assert(r.getBoolean(3) === (r.getLong(2) === r.getLong(0)),
        s"keep must be group==id: $r")
    }
    // every group member shares the member-min id as its group
    val byGroup = rows.groupBy(_.getLong(2))
    byGroup.foreach { case (g, ms) =>
      assert(ms.map(_.getLong(0)).min === g, s"group $g keeper not min")
    }
    // with one coarse cell and one fine centroid, every row lands in
    // cell 0 and the pair join is the full within-corpus comparison —
    // exactly the flat semDedup with a single centroid; group sets
    // must agree (same pairs -> same components -> same min-id keepers)
    val one = Similarity.semDedupHier(emb, "vec_id", threshold = 0.99,
      coarseK = 1, fineK = 1, iterations = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val seed = emb.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id").cast("long").as("cent_id"),
        col("embedding").as("cent_vec"))
    val flat = Similarity.semDedup(emb, "vec_id", "embedding",
        seed, threshold = 0.99)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(one === flat)
    // string ids fail at the boundary, same as semDedupTrained
    import spark.implicits._
    val bad = intercept[IllegalArgumentException] {
      Similarity.semDedupHier(
        Seq(("a", Seq(1.0f))).toDF("vec_id", "embedding"), "vec_id", 0.9)
    }
    assert(bad.getMessage.contains("numeric id"), bad.getMessage)
  }

  test("semDedupHier broadcast-hostile fallback: a zero cells budget " +
      "forces the shuffle-hash assignment and the output is identical") {
    val emb = Tables.embeddings(spark, sf)
    // the fine-assignment joins execute behind a localCheckpoint, so
    // the OUTPUT plan can't show them — capture every executed plan of
    // the run and count the join forms there
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      def run(budget: Long) = {
        plans.clear()
        val r = Similarity.semDedupHier(emb, "vec_id",
            threshold = 0.99, coarseK = 16, fineK = 4, iterations = 1,
            cellsBroadcastBytes = budget)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getBoolean(3)))
          .sortBy(_._1)
        // listener delivery is async; block until the bus drains
        org.scalatest.concurrent.Eventually.eventually(
          org.scalatest.concurrent.Eventually.timeout(
            org.scalatest.time.Span(10, org.scalatest.time.Seconds))) {
          assert(plans.size() >= 5) // coarse train + fine stages at least
        }
        val all = plans.toArray.map(_.toString)
        (r.toSeq, all.count(_.contains("ShuffledHashJoin")),
          all.count(_.contains("SortMergeJoin")))
      }
      // budget 0 ⇒ estimated cells footprint always exceeds it ⇒ the
      // per-iteration assignment joins co-partitioned on coarse_id
      // instead of broadcasting; the argmax reads the same cells rows,
      // so (cent_id, group, keep) must match bit-for-bit
      val (fb, fbHash, fbSmj) = run(0L)
      val (bc, bcHash, _) = run(64L << 20)
      assert(fb === bc)
      // and the scaladoc's physical claim holds: the fallback is a
      // SHUFFLE-HASH join (one per assignFine pass: Lloyd + final),
      // never a sort-merge — the corpus side must not sort by coarse_id
      // just to stream past a dimension-sized build side
      assert(fbHash >= 2 && fbSmj === 0,
        s"fallback join form: shuffledHash=$fbHash sortMerge=$fbSmj")
      assert(bcHash === 0, s"broadcast path ran $bcHash shuffle-hash joins")
    } finally spark.listenerManager.unregister(listener)
  }

  test("bloom fold grows the index across increments without mutating " +
      "the original, and the saturation guard fires loudly") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val inc1 = docs.filter(pmod($"doc_id", lit(3)) === 0)
      .select($"doc_id", $"text")
    val idx0 = graft.dedup.BloomIndex.build(hist, "text",
      expectedItems = 2000, fpp = 0.001, k = 16, bands = 2)
    val kept1 = graft.dedup.BloomIndex.classify(inc1, idx0, "text")
      .filter($"status" === "kept").select($"doc_id", $"text")
    val keptN = kept1.count()
    assert(keptN > 0, "fixture must keep some inc1 docs")
    // re-crawl of inc1-kept pages under fresh ids: 'kept' against the
    // original index, exact_hist against the folded one — the fold is
    // what catches the cross-increment duplicate
    val recrawl = kept1.select(($"doc_id" + 200000).as("doc_id"), $"text")
    val pre = graft.dedup.BloomIndex.classify(recrawl, idx0, "text")
      .filter($"status" === "exact_hist").count()
    assert(pre === 0, "re-crawled kept docs must not be in the ORIGINAL index")
    val idx1 = graft.dedup.BloomIndex.fold(idx0, kept1, "text")
    assert(idx1.inserted === idx0.inserted + keptN)
    val post = graft.dedup.BloomIndex.classify(recrawl, idx1, "text")
      .select($"status").as[String].collect()
    assert(post.nonEmpty && post.forall(_ == "exact_hist"),
      s"folded index must catch every re-crawled dup: ${post.toSeq}")
    // treeAggregate folds into COPIES: the caller's index is untouched
    val preAgain = graft.dedup.BloomIndex.classify(recrawl, idx0, "text")
      .filter($"status" === "exact_hist").count()
    assert(preAgain === 0, "fold must not mutate the original index")
    // saturation: a fold past the expectedItems budget fails loudly
    // (filters can't grow; past the budget the real fpp silently rots)
    val tiny = graft.dedup.BloomIndex.build(hist.limit(5), "text",
      expectedItems = 6, fpp = 0.001, k = 16, bands = 2)
    val sat = intercept[IllegalArgumentException] {
      graft.dedup.BloomIndex.fold(tiny, inc1.limit(10), "text")
    }
    assert(sat.getMessage.contains("expectedItems"), sat.getMessage)
    // ... and so does a build already over budget
    val satB = intercept[IllegalArgumentException] {
      graft.dedup.BloomIndex.build(hist, "text",
        expectedItems = 3, fpp = 0.001, k = 16, bands = 2)
    }
    assert(satB.getMessage.contains("saturated"), satB.getMessage)

    // recovery: fold to near-saturation, rebuild from the durable
    // history at 2x budget — classifications unchanged, and the loop
    // regains fold headroom instead of crashing (r10, verdict item 6)
    val nearFull = graft.dedup.BloomIndex.build(hist, "text",
      expectedItems = idx0.inserted + keptN, fpp = 0.001, k = 16, bands = 2)
    val full = graft.dedup.BloomIndex.fold(nearFull, kept1, "text")
    assert(full.inserted === full.expectedItems) // zero headroom left
    val grown = graft.dedup.BloomIndex.rebuild(full,
      hist.select($"doc_id", $"text").unionByName(kept1), "text",
      expectedItems = full.expectedItems * 2)
    assert(grown.expectedItems === full.expectedItems * 2 &&
      grown.inserted === full.inserted &&
      grown.k === full.k && grown.bands === full.bands)
    val fullCls = graft.dedup.BloomIndex.classify(recrawl, full, "text")
      .orderBy($"doc_id").select($"status").as[String].collect().toSeq
    val grownCls = graft.dedup.BloomIndex.classify(recrawl, grown, "text")
      .orderBy($"doc_id").select($"status").as[String].collect().toSeq
    assert(grownCls === fullCls)
    // the grown index accepts further folds the saturated one refused
    val more = recrawl.limit(3)
    intercept[IllegalArgumentException] {
      graft.dedup.BloomIndex.fold(full, more, "text")
    }
    assert(graft.dedup.BloomIndex.fold(grown, more, "text")
      .inserted === grown.inserted + 3)
    // shrinking is not a rebuild
    val shrink = intercept[IllegalArgumentException] {
      graft.dedup.BloomIndex.rebuild(full, hist, "text",
        expectedItems = full.expectedItems)
    }
    assert(shrink.getMessage.contains("GROW"), shrink.getMessage)
  }

  test("incremental dedup: geometry mismatch between index and classify " +
      "fails loudly instead of silently keeping every near-dup") {
    val docs = Tables.documents(spark, sf).limit(30)
    val idx = Dedup.dedupIndex(docs, "doc_id", "text", k = 16, bands = 2)
    val err = intercept[IllegalArgumentException] {
      Dedup.incrementalStatus(docs, idx, "doc_id", "text",
        k = 16, bands = 4).count()
    }
    assert(err.getMessage.contains("16|2"))
    // null-text history must not break the Bloom build (putString NPEs
    // on null; the key derivation drops null fingerprints)
    import spark.implicits._
    val withNull = docs.select($"doc_id", $"text").unionByName(
      Seq((9999L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val bidx = graft.dedup.BloomIndex.build(withNull, "text",
      expectedItems = 1000, fpp = 0.001)
    assert(graft.dedup.BloomIndex.classify(docs, bidx, "text")
      .filter(col("status") === "exact_hist").count() === 30L)
  }

  test("incremental dedup: a batch equal to history is all exact_hist; " +
      "empty-token docs never near-match") {
    val docs = Tables.documents(spark, sf).limit(60)
    val idx = Dedup.dedupIndex(docs, "doc_id", "text")
    val statuses = Dedup.incrementalStatus(docs, idx, "doc_id", "text")
      .select($"status").distinct().as[String].collect().toSet
    assert(statuses === Set("exact_hist"))
    val empties = Seq((100L, ""), (101L, "   ")).toDF("doc_id", "text")
    val got = Dedup.incrementalStatus(empties, idx, "doc_id", "text")
      .select($"doc_id", $"status")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // whitespace-only text normalizes to a fingerprint too — it can
    // only be exact_hist if history held an empty doc (it didn't)
    assert(got === Map(100L -> "kept", 101L -> "kept"))
  }

  test("exact-keys stored index: the save/append/load loop is bit-equal " +
      "to the in-memory indexFold loop, and folded pages' re-crawls are " +
      "caught off the grown store") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val inc1 = docs.filter(pmod($"doc_id", lit(3)) === 0 &&
        pmod($"doc_id", lit(2)) === 0)
      .select($"doc_id", $"text")
    val inc2 = docs.filter(pmod($"doc_id", lit(3)) === 0 &&
        pmod($"doc_id", lit(2)) === 1)
      .select($"doc_id", $"text")
      .unionByName(inc1.filter(pmod($"doc_id", lit(4)) === 0)
        .select(($"doc_id" + 200000).as("doc_id"), $"text"))
    val idx0 = Dedup.dedupIndex(hist, "doc_id", "text", k = 16, bands = 2)
    val tmp = java.nio.file.Files.createTempDirectory("graft_keyio")
    val dir = tmp.resolve("idx").toUri.toString
    try {
      graft.dedup.DedupIndexIO.save(idx0, dir)
      def statuses(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
        df.select($"doc_id", $"status")
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val c1Store = statuses(Dedup.incrementalStatus(inc1,
        graft.dedup.DedupIndexIO.load(spark, dir),
        "doc_id", "text", k = 16, bands = 2))
      val c1Mem = statuses(Dedup.incrementalStatus(inc1, idx0,
        "doc_id", "text", k = 16, bands = 2))
      assert(c1Store === c1Mem)
      val kept1 = inc1.filter($"doc_id".isin(
        c1Store.filter(_._2 == "kept").keys.toSeq: _*))
      graft.dedup.DedupIndexIO.append(spark, dir, kept1, "text")
      val grown = graft.dedup.DedupIndexIO.load(spark, dir)
      // the marker survives any number of appends exactly-once
      assert(grown.filter($"kind" === "geom").count() === 1L)
      val c2Store = statuses(Dedup.incrementalStatus(inc2, grown,
        "doc_id", "text", k = 16, bands = 2))
      val c2Mem = statuses(Dedup.incrementalStatus(inc2,
        Dedup.indexFold(idx0, kept1, "text"),
        "doc_id", "text", k = 16, bands = 2))
      assert(c2Store === c2Mem)
      // indexFold also accepts the LOADED store (which carries the gen
      // column — the fold's keys take gen null), and re-folding keys
      // the store already holds is a classification no-op
      val refolded = Dedup.indexFold(grown, kept1, "text")
      assert(statuses(Dedup.incrementalStatus(inc2, refolded,
        "doc_id", "text", k = 16, bands = 2)) === c2Store)
      // inc2's re-crawls of inc1-KEPT pages must read exact_hist off
      // the GROWN store (the whole point of the fold); re-crawls of
      // inc1 pages the history already covered match via history keys
      val keptRecrawl = c1Store.filter(_._2 == "kept").keySet
        .filter(_ % 4 == 0).map(_ + 200000)
      assert(keptRecrawl.nonEmpty, "fixture degenerated: no kept re-crawl")
      assert(keptRecrawl.forall(id => c2Store(id) == "exact_hist"),
        keptRecrawl.map(id => id -> c2Store(id)).toMap.toString)
      // and a genuinely fresh inc2 population still exists (non-vacuous)
      assert(c2Store.valuesIterator.count(_ == "kept") > 0)
    } finally Tables.deleteTree(tmp)
  }

  test("stored exact-keys cycle: a gen-tagged replayed batch classifies " +
      "bit-identically to its crashed first attempt, later batches see " +
      "earlier kept docs as history, and the ad-hoc (no-gen) form sees " +
      "its own fold") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val b1 = docs.filter(pmod($"doc_id", lit(3)) === 0 &&
        pmod($"doc_id", lit(2)) === 0)
      .select($"doc_id", $"text")
    val b2 = docs.filter(pmod($"doc_id", lit(3)) === 0 &&
        pmod($"doc_id", lit(2)) === 1)
      .select($"doc_id", $"text")
      .unionByName(b1.filter(pmod($"doc_id", lit(4)) === 0)
        .select(($"doc_id" + 200000).as("doc_id"), $"text"))
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select($"doc_id", $"status")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_keyio_gen")
    val dir = tmp.resolve("idx").toUri.toString
    try {
      graft.dedup.DedupIndexIO.save(
        Dedup.dedupIndex(hist, "doc_id", "text", k = 16, bands = 2), dir)
      val a1 = m(Dedup.incrementalStatusStored(spark, dir, b1,
        "doc_id", "text", gen = Some(1L)))
      // crash-replay: the first attempt already folded b1's kept keys;
      // the retry's gen bound (gen < 1) hides them from itself
      val a1r = m(Dedup.incrementalStatusStored(spark, dir, b1,
        "doc_id", "text", gen = Some(1L)))
      assert(a1r === a1)
      assert(a1.valuesIterator.count(_ == "kept") > 0)
      // the next batch's view (gen < 2) INCLUDES batch 1's folds — its
      // re-crawls of b1-kept pages read exact_hist off the grown store
      val a2 = m(Dedup.incrementalStatusStored(spark, dir, b2,
        "doc_id", "text", gen = Some(2L)))
      val keptRecrawl = a1.filter(_._2 == "kept").keySet
        .filter(_ % 4 == 0).map(_ + 200000)
      assert(keptRecrawl.nonEmpty, "fixture degenerated: no kept re-crawl")
      assert(keptRecrawl.forall(id => a2(id) == "exact_hist"),
        keptRecrawl.map(id => id -> a2(id)).toMap.toString)
      // bounded ops snapshot reflects the geometry and the gen range of
      // the folded increments (gen 1 twice + gen 2; history reads null)
      val st = graft.dedup.DedupIndexIO.stats(spark, dir)
      assert(st.k === 16 && st.bands === 2)
      assert(st.fpKeys > 0L && st.bandKeys > 0L && st.files > 0L)
      assert(st.minGen === Some(1L) && st.maxGen === Some(2L))
      // ad-hoc form (no gen), on a FRESH store so the contrast is
      // non-vacuous: the repeat SEES its own fold — every kept doc of
      // the first call reads exact_hist on the second (the scaladoc'd
      // difference the gen bound exists to remove)
      val dir2 = tmp.resolve("idx2").toUri.toString
      graft.dedup.DedupIndexIO.save(
        Dedup.dedupIndex(hist, "doc_id", "text", k = 16, bands = 2), dir2)
      val adhoc1 = m(Dedup.incrementalStatusStored(spark, dir2, b1,
        "doc_id", "text"))
      val adhoc2 = m(Dedup.incrementalStatusStored(spark, dir2, b1,
        "doc_id", "text"))
      val adhocKept = adhoc1.filter(_._2 == "kept").keySet
      assert(adhocKept.nonEmpty)
      assert(adhocKept.forall(id => adhoc2(id) == "exact_hist"))
    } finally Tables.deleteTree(tmp)
  }

  test("stored semantic cycle (r16): a gen-tagged replayed batch " +
      "classifies bit-identically after its crashed first attempt's " +
      "fold landed, the replayed fold is a no-op, later batches see " +
      "earlier kept docs, and the ad-hoc form sees its own fold") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val b1base = docs.filter(pmod($"doc_id", lit(3)) === 0 &&
        pmod($"doc_id", lit(2)) === 0)
      .select($"doc_id", $"text")
    // WITHIN-batch near-dup pairs (+500000 copies): first attempt keeps
    // both sides (neither is history); after the fold, an UNBOUNDED
    // replay would match each copy against its folded original — the
    // exact divergence the gen bound removes
    val b1 = b1base.unionByName(
      b1base.filter(pmod($"doc_id", lit(8)) === 0)
        .select(($"doc_id" + 500000).as("doc_id"), $"text"))
    val b2 = docs.filter(pmod($"doc_id", lit(3)) === 0 &&
        pmod($"doc_id", lit(2)) === 1)
      .select($"doc_id", $"text")
      .unionByName(b1base.filter(pmod($"doc_id", lit(4)) === 0)
        .select(($"doc_id" + 200000).as("doc_id"), $"text"))
    def m(df: org.apache.spark.sql.DataFrame): Map[Long, (String, Double)] =
      df.select($"doc_id", $"status", $"best_sim")
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
        .toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_semio_gen")
    val dir = tmp.resolve("idx").toUri.toString
    import graft.dedup.SemanticIndexIO
    try {
      SemanticIndexIO.save(
        Dedup.semanticIndex(hist, "doc_id", "text"), dir)
      val a1 = m(Dedup.semanticStatusStored(spark, dir, b1,
        "doc_id", "text", gen = Some(1L)))
      val kept1 = a1.filter(_._2._1 == "kept").keySet
      assert(kept1.nonEmpty)
      assert(kept1.exists(_ >= 500000L),
        "fixture degenerated: no within-batch copy was kept")
      val keptDf = b1.filter($"doc_id".isInCollection(kept1))
      // the deployment cycle reloads per batch (each appendSave sweeps
      // the superseded generation TREE, so a held handle goes stale)
      SemanticIndexIO.appendSave(spark, dir,
        Dedup.semanticEncode(SemanticIndexIO.load(spark, dir),
          keptDf, "doc_id", "text"),
        note = "1", batchGen = Some(1L))
      val fragsAfterFold = SemanticIndexIO.fragmentCount(spark, dir)
      // crash-replay classify: the first attempt's fold already landed,
      // but the gen bound (gen is null or gen < 1) hides the batch's
      // own rows — statuses AND audit sims bit-identical
      val a1r = m(Dedup.semanticStatusStored(spark, dir, b1,
        "doc_id", "text", gen = Some(1L)))
      assert(a1r === a1)
      // crash-replay fold: the folded-batch ledger makes the re-append
      // a no-op — no second fragment of the same rows
      SemanticIndexIO.appendSave(spark, dir,
        Dedup.semanticEncode(SemanticIndexIO.load(spark, dir),
          keptDf, "doc_id", "text"),
        note = "1r", batchGen = Some(1L))
      assert(SemanticIndexIO.fragmentCount(spark, dir) === fragsAfterFold)
      // the next batch's view (gen < 2) INCLUDES batch 1's fold — its
      // re-crawls of b1-kept pages read sem_hist at 1.0 off the grown
      // store
      val a2 = m(Dedup.semanticStatusStored(spark, dir, b2,
        "doc_id", "text", gen = Some(2L)))
      val keptRecrawl = kept1.filter(id => id < 500000L && id % 4 == 0)
        .map(_ + 200000)
      assert(keptRecrawl.nonEmpty, "fixture degenerated: no kept re-crawl")
      keptRecrawl.foreach { id =>
        assert(a2(id)._1 === "sem_hist" && a2(id)._2 === 1.0,
          s"re-crawl $id: ${a2(id)}")
      }
      // an EMPTY increment with a batchGen still records the batch in
      // the ledger (the batch was processed): the retry is a no-op
      // instead of a second watermark commit
      def emptyEnc() = Dedup.semanticEncode(
        SemanticIndexIO.load(spark, dir),
        b1.filter(lit(false)), "doc_id", "text")
      SemanticIndexIO.appendSave(spark, dir, emptyEnc(),
        note = "3", batchGen = Some(3L))
      val note3 = SemanticIndexIO.note(spark, dir)
      SemanticIndexIO.appendSave(spark, dir, emptyEnc(),
        note = "3r", batchGen = Some(3L))
      assert(SemanticIndexIO.note(spark, dir) === note3,
        "replayed empty fold committed a second generation")
      Dedup.releaseStoredClassifyCache()
      // ad-hoc contrast (no gen), fresh store: the replay SEES its own
      // fold — every kept within-batch copy flips to sem_hist (the
      // scaladoc'd difference the gen bound exists to remove)
      val dir2 = tmp.resolve("idx2").toUri.toString
      SemanticIndexIO.save(
        Dedup.semanticIndex(hist, "doc_id", "text"), dir2)
      val adhoc1 = m(Dedup.semanticStatusStored(spark, dir2, b1,
        "doc_id", "text"))
      val adKept = adhoc1.filter(_._2._1 == "kept").keySet
      SemanticIndexIO.appendSave(spark, dir2,
        Dedup.semanticEncode(SemanticIndexIO.load(spark, dir2),
          b1.filter($"doc_id".isInCollection(adKept)),
          "doc_id", "text"))
      val adhoc2 = m(Dedup.semanticStatusStored(spark, dir2, b1,
        "doc_id", "text"))
      val copies = adKept.filter(_ >= 500000L)
      assert(copies.nonEmpty)
      copies.foreach { id =>
        assert(adhoc2(id)._1 === "sem_hist",
          s"ad-hoc replay of copy $id did not see its own fold: " +
            s"${adhoc2(id)}")
      }
      Dedup.releaseStoredClassifyCache()
    } finally Tables.deleteTree(tmp)
  }

  test("bloom index store: save/load round-trips bits and saturation " +
      "counters, the loaded index classifies identically and still " +
      "enforces the fold budget") {
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(3)) === 0)
      .select($"doc_id", $"text")
    val idx = graft.dedup.BloomIndex.build(hist, "text",
      expectedItems = hist.count() + 5, fpp = 0.001, k = 16, bands = 2)
    def classify(i: graft.dedup.BloomIndex.Index): Map[Long, String] =
      graft.dedup.BloomIndex.classify(batch, i, "text")
        .select($"doc_id", $"status")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloomio")
    val dir = tmp.resolve("bidx").toUri.toString
    try {
      graft.dedup.BloomIndexIO.save(idx, spark, dir)
      val loaded = graft.dedup.BloomIndexIO.load(spark, dir)
      assert(loaded.k === idx.k && loaded.bands === idx.bands)
      assert(loaded.expectedItems === idx.expectedItems)
      assert(loaded.inserted === idx.inserted)
      assert(classify(loaded) === classify(idx))
      // the persisted saturation counter still guards the NEXT cycle's
      // fold: 5 docs of headroom admit a 2-doc fold, refuse a 6-doc one
      val tiny = batch.limit(2)
      val folded = graft.dedup.BloomIndex.fold(loaded, tiny, "text")
      assert(folded.inserted === loaded.inserted + 2)
      val over = intercept[IllegalArgumentException] {
        graft.dedup.BloomIndex.fold(folded, batch.limit(6), "text")
      }
      assert(over.getMessage.contains("expectedItems"))
      // stats(): the bounded operational snapshot (r16 — store parity
      // with DedupIndexIO/SemanticIndexIO): geometry, saturation
      // position, bit sizes and live fpp estimates, no corpus scan
      val st = graft.dedup.BloomIndexIO.stats(spark, dir)
      assert(st.k === idx.k && st.bands === idx.bands)
      assert(st.expectedItems === idx.expectedItems)
      assert(st.inserted === idx.inserted)
      assert(st.saturation ===
        idx.inserted.toDouble / idx.expectedItems)
      assert(st.saturation > 0.0 && st.saturation < 1.0)
      assert(st.fpBits > 0L && st.bandBits > st.fpBits,
        s"band filter (x bands budget) should be larger: $st")
      assert(st.fpExpectedFpp > 0.0 && st.fpExpectedFpp < 0.5)
      assert(st.bandExpectedFpp > 0.0 && st.bandExpectedFpp < 0.5)
      // one committed generation per path; debris without _SUCCESS
      // reads as "no index here", never as a silently partial index
      intercept[IllegalArgumentException] {
        graft.dedup.BloomIndexIO.save(idx, spark, dir)
      }
      val bare = tmp.resolve("debris")
      java.nio.file.Files.createDirectory(bare)
      val noSuccess = intercept[IllegalArgumentException] {
        graft.dedup.BloomIndexIO.load(spark, bare.toUri.toString)
      }
      assert(noSuccess.getMessage.contains("_SUCCESS"))
    } finally Tables.deleteTree(tmp)
  }

  test("exact-keys index fold: geometry comes from the marker, folds " +
      "commute, compact preserves classification, and marker-less " +
      "frames fail loudly at fold and save time") {
    val docs = Tables.documents(spark, sf).limit(90)
      .select($"doc_id", $"text")
    val hist = docs.filter($"doc_id" % 3 === 0)
    val incA = docs.filter($"doc_id" % 3 === 1)
    val incB = docs.filter($"doc_id" % 3 === 2)
    val probe = docs.select(($"doc_id" + 500000).as("doc_id"), $"text")
    val idx0 = Dedup.dedupIndex(hist, "doc_id", "text", k = 16, bands = 2)
    def classify(idx: org.apache.spark.sql.DataFrame): Map[Long, String] =
      Dedup.incrementalStatus(probe, idx, "doc_id", "text",
          k = 16, bands = 2)
        .select($"doc_id", $"status")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ab = classify(Dedup.indexFold(
      Dedup.indexFold(idx0, incA, "text"), incB, "text"))
    val ba = classify(Dedup.indexFold(
      Dedup.indexFold(idx0, incB, "text"), incA, "text"))
    assert(ab === ba)
    // every probe doc is a byte re-crawl of hist∪incA∪incB
    assert(ab.valuesIterator.forall(_ == "exact_hist"))
    val folded = Dedup.indexFold(Dedup.indexFold(idx0, incA, "text"),
      incB, "text")
    val compacted = Dedup.compactIndex(folded)
    assert(classify(compacted) === ab)
    assert(compacted.filter($"kind" === "geom").count() === 1L)
    assert(compacted.count() <= folded.count())
    // a frame with no geometry marker cannot be folded into or saved —
    // silent dup leakage is the failure this guard exists to prevent
    val markerless = idx0.filter($"kind" =!= "geom")
    val foldErr = intercept[IllegalArgumentException] {
      Dedup.indexFold(markerless, incA, "text")
    }
    assert(foldErr.getMessage.contains("exactly one row"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_keyio_g")
    try {
      intercept[IllegalArgumentException] {
        graft.dedup.DedupIndexIO.save(markerless,
          tmp.resolve("bad").toUri.toString)
      }
      // save refuses to clobber an existing store (add-only contract)
      val d = tmp.resolve("idx").toUri.toString
      graft.dedup.DedupIndexIO.save(idx0, d)
      intercept[Exception] {
        graft.dedup.DedupIndexIO.save(idx0, d)
      }
    } finally Tables.deleteTree(tmp)
  }

  test("Bloom indexes get unique ids; the classify manifest is keyed " +
      "on the id, so re-using an index hits and a rebuilt one misses") {
    import graft.dedup.BloomIndex
    import graft.operators.Curate
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val batch = docs.filter(pmod($"doc_id", lit(3)) === 0)
    val bench = docs.filter(pmod($"doc_id", lit(50)) === 0)
    val cfg = Curate.CurateConfig(contaminationN = 3,
      maxContaminationFrac = 0.06)
    def build() = BloomIndex.build(hist, "text", expectedItems = 10000,
      k = cfg.minhashK, bands = cfg.bands)
    val a = build()
    val b = build()
    assert(a === b, "id is a body field: equality sees only the filters")
    assert(a.id !== b.id)
    assert(a.copy().id !== a.id)
    def pinned = spark.sparkContext.getPersistentRDDs.size
    Curate.clearManifests()
    try {
      val before = pinned
      Curate.curateIncrementBloom(batch, bench, a, "doc_id", "text", cfg)
      val afterFirst = pinned
      assert(afterFirst > before)
      Curate.curateIncrementBloom(batch, bench, a, "doc_id", "text", cfg)
      assert(pinned === afterFirst, "the same index must hit the manifest")
      Curate.curateIncrementBloom(batch, bench, b, "doc_id", "text", cfg)
      assert(pinned > afterFirst, "an equal rebuilt index must miss")
    } finally Curate.clearManifests()
  }

  test("exact-keys store: a store deleted and re-saved at the same " +
      "path with a new geometry loads the new geometry, even when the " +
      "marker files keep the old mtimes") {
    val docs = Tables.documents(spark, sf).limit(30)
      .select($"doc_id", $"text")
    val tmp = java.nio.file.Files.createTempDirectory("graft_keyio_stamp")
    val d = tmp.resolve("idx").toUri.toString
    val marker = new org.apache.hadoop.fs.Path(d, "kind=geom")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def markerFiles = fs.listStatus(marker)
      .filterNot(_.getPath.getName.startsWith("_"))
      .sortBy(_.getPath.getName)
    try {
      graft.dedup.DedupIndexIO.save(
        Dedup.dedupIndex(docs, "doc_id", "text", k = 16, bands = 2), d)
      def geometry = {
        val st = graft.dedup.DedupIndexIO.stats(spark, d)
        (st.k, st.bands)
      }
      assert(geometry === ((16, 2)))
      val oldTimes = markerFiles.map(_.getModificationTime)
      Tables.deleteTree(tmp.resolve("idx"))
      graft.dedup.DedupIndexIO.save(
        Dedup.dedupIndex(docs, "doc_id", "text", k = 16, bands = 4), d)
      // same file count and marker width; force the old mtimes back so
      // only the part-file names tell the two stores apart
      val fresh = markerFiles
      assert(fresh.length === oldTimes.length)
      fresh.zip(oldTimes).foreach { case (f, t) =>
        fs.setTimes(f.getPath, t, -1L) }
      assert(geometry === ((16, 4)))
    } finally Tables.deleteTree(tmp)
  }

  test("hashed embeddings: unit norm, token-set identity, zero on empty") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta GAMMA beta alpha"), // same token set -> same vector
      (3L, "totally disjoint vocabulary here"),
      (4L, "   "),                    // no tokens -> zero vector
      (5L, null.asInstanceOf[String])) // null text -> zero vector too
      .toDF("doc_id", "text")
    val got = TextAnalysis.hashedEmbeddings(df, "doc_id", "text", dim = 64)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble)).toMap
    assert(got.values.forall(_.size === 64))
    def n2(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(n2(got(1L)) - 1.0) < 1e-6)
    assert(got(1L) === got(2L))
    assert(got(4L).forall(_ === 0.0))
    assert(got(5L).forall(_ === 0.0))
    def cos(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum / (n2(a) * n2(b))
    assert(cos(got(1L), got(3L)) < 0.5)
  }

  test("simhash: identical texts distance 0, near texts small distance") {
    val base = (1 to 40).map(i => s"word$i").mkString(" ")
    val df = Seq((1L, base), (2L, base), (3L, base + " extra token"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) === 0)
    assert(pairs.get((1L, 3L)).exists(_ <= 10))
  }

  test("jaccard pairs: integer threshold math matches hand computation") {
    // shingle sets: A has 4 trigrams, B shares 3 of them + 1 new -> J = 3/5
    val a = "w1 w2 w3 w4 w5 w6"
    val b = "w1 w2 w3 w4 w5 zz"
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val rows = Dedup.jaccardPairs(df, "doc_id", "text", 3, 6, 10).collect()
    assert(rows.length === 1) // 3/5 = 0.6 >= 0.6
    assert(rows.head.getAs[Long]("n_inter") === 3)
    assert(rows.head.getAs[Long]("n_union") === 5)
    assert(Dedup.jaccardPairs(df, "doc_id", "text", 3, 7, 10).isEmpty)
  }

  // ------------------------------------------------------- similarity
  test("brute-force top-k: self-similarity excluded, scores sorted") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val got = Similarity.bruteForceTopK(queries, corpus, k = 4).collect()
    assert(got.length === 12)
    got.groupBy(_.getAs[Long]("q_id")).foreach { case (q, rows) =>
      assert(!rows.exists(_.getAs[Long]("c_id") == q))
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.sorted.reverse === sims)
    }
  }

  test("LSH hyperplane top-k achieves decent recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus, k = 5))
    val approx = pairs(Similarity.lshTopK(queries, corpus,
      dim = 64, nBits = 3, k = 5))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"LSH recall $recall too low")
    // hyperplanes must be genuinely independent: a degenerate (e.g.
    // parity-separable) component hash collapses the space to 2 buckets
    val nBuckets = corpus
      .select(Similarity.lshBucket($"c_vec", 64, 3).as("b"))
      .distinct().count()
    assert(nBuckets > 4, s"only $nBuckets of 8 LSH buckets occupied")
    // bucket assignment is deterministic across runs
    val b1 = Similarity.lshTopK(queries, corpus, 64, 3, 5).collect().toSeq
    val b2 = Similarity.lshTopK(queries, corpus, 64, 3, 5).collect().toSeq
    assert(b1.toSet === b2.toSet)
  }

  test("int8 quantization: bounded roundtrip error, high top-k recall") {
    val emb = Tables.embeddings(spark, sf)
    // per-element reconstruction error <= scale/2 (+ float-scale eps)
    val bad = emb
      .select($"embedding".as("v"),
        Similarity.quantizeInt8($"embedding").as("qv"))
      .select(
        org.apache.spark.sql.functions.zip_with(
          Similarity.dequantizeInt8($"qv"),
          org.apache.spark.sql.functions.transform($"v",
            x => x.cast("double")),
          (a, b) => org.apache.spark.sql.functions.abs(a - b)).as("err"),
        ($"qv".getField("scale").cast("double") * 0.5 + 1e-6).as("bound"))
      .filter(org.apache.spark.sql.functions.array_max($"err") > $"bound")
      .count()
    assert(bad === 0L, "int8 roundtrip error exceeded scale/2")
    // ranking on int8 codes tracks the exact ranker closely: 127 levels
    // per dimension loses little cosine precision
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus, k = 5))
    val quant = pairs(Similarity.int8TopK(queries, corpus, k = 5))
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.8, s"int8 recall $recall too low")
  }

  test("IVF Lloyd training lifts recall over the raw seed centroids") {
    // the registered sim_ivf config (k=5, nProbe=3, 2 iterations over a
    // 50% hash-sample) at sf0.01: recall@5 rises 0.368 -> 0.440
    // (IvfTrainProbeMain). Everything here is deterministic — exact
    // decimal means in training, rounded sims, id tiebreaks — so the
    // measured values are pinned, not just the inequality.
    val d = "/root/testdata/sf0.01"
    val emb = Tables.embeddings(spark, d)
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val queries = emb.filter($"vec_id" < 25)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val stride = math.max(1, math.sqrt(emb.count().toDouble).toLong)
    val seeds = emb.filter($"vec_id" % stride === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
    val sample = graft.operators.Sampling
      .hashSample(corpus, $"c_id", "8", "ivf")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus, k = 5))
    def recall(cents: org.apache.spark.sql.DataFrame): Double = {
      val got = pairs(Similarity.ivfTopK(queries, corpus, cents,
        k = 5, nProbe = 3))
      (exact & got).size.toDouble / exact.size
    }
    val untrained = recall(seeds)
    val trained = recall(Similarity.trainIvfCentroids(sample, seeds,
      iterations = 2))
    assert(trained > untrained,
      s"training must lift recall: $untrained -> $trained")
    assert(math.abs(untrained - 0.368) < 0.001, s"untrained=$untrained")
    assert(math.abs(trained - 0.440) < 0.001, s"trained=$trained")
  }

  test("multi-probe LSH recall is monotone and lifts the narrow-bucket config") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus, k = 5))
    def recall(nBits: Int, nProbes: Int): Double = {
      val approx = pairs(Similarity.lshTopK(queries, corpus,
        dim = 64, nBits = nBits, k = 5, nProbes = nProbes))
      (exact & approx).size.toDouble / exact.size
    }
    val single6 = recall(6, 0)
    val multi6 = recall(6, 6) // the registered sim_lsh_topk config
    // candidate superset => recall can only rise with probes
    assert(multi6 >= single6, s"multi-probe $multi6 < single-probe $single6")
    // the 7-of-64-buckets config must hold a usable floor (measured 0.46
    // here and 0.40 at sf0.01 — LshGridMain)
    assert(multi6 >= 0.3, s"multi-probe LSH recall $multi6 too low")
  }

  test("IVF top-k achieves decent recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val centroids = emb.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("cent_id"), $"embedding".as("cent_vec"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "c_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus, k = 5))
    val approx = pairs(Similarity.ivfTopK(queries, corpus, centroids,
      k = 5, nProbe = 4))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  // ------------------------------------------------------- multimodal
  test("stub decode is deterministic and batch-shaped") {
    val media = Multimodal.fromText(
      Seq((1L, "hello world"), (2L, "abc")).toDF("id", "text"), "id", "text")
    val f1 = Multimodal.decodeFeatures(media, batchSize = 1).collect()
      .sortBy(_.media_id)
    val f2 = Multimodal.decodeFeatures(media, batchSize = 64).collect()
      .sortBy(_.media_id)
    assert(f1.length === 2)
    assert(f1.map(_.checksum).toSeq === f2.map(_.checksum).toSeq)
    assert(f1.head.n_bytes === 11)
    assert(f1.head.feature.length === 8)
  }

  test("imageio header decode reads real PNG/JPEG dims, skips non-images") {
    // a real 7x5 PNG and 9x4 JPEG, generated in-memory through the same
    // JDK codec stack a deployment would read with
    def imgBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out))
      out.toByteArray
    }
    assert(Multimodal.imageDims(imgBytes(7, 5, "png")) === Some((7, 5)))
    assert(Multimodal.imageDims(imgBytes(9, 4, "jpg")) === Some((9, 4)))
    assert(Multimodal.imageDims("not an image".getBytes) === None)
    assert(Multimodal.imageDims(Array.emptyByteArray) === None)
    // truncated header: magic passes, reader must fail soft to None
    assert(Multimodal.imageDims(imgBytes(7, 5, "png").take(12)) === None)

    // end-to-end through the batched decode: dims surface as columns
    val media = Seq((1L, "image", imgBytes(7, 5, "png")),
        (2L, "image", "plain text".getBytes))
      .toDF("media_id", "media_type", "payload")
    val got = Multimodal.decodeFeatures(media).collect().sortBy(_.media_id)
    assert(got(0).decoded_width === Some(7))
    assert(got(0).decoded_height === Some(5))
    assert(got(1).decoded_width === None)
  }

  test("pixel features come from REAL decoded pixels (exact on solid color)") {
    // solid-color 8x4 PNG through each format the JDK registry decodes:
    // channel means must be EXACTLY the fill color, luma spread and
    // gradient exactly zero — impossible for a byte-hash stub to fake
    def solid(w: Int, h: Int, rgb: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val gfx = img.createGraphics()
      gfx.setColor(new java.awt.Color(rgb)); gfx.fillRect(0, 0, w, h)
      gfx.dispose()
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out))
      out.toByteArray
    }
    for (fmt <- Seq("png", "bmp", "gif")) {
      val f = Multimodal.pixelFeatures(
        Multimodal.decodeImage(solid(8, 4, 0xCC6633, fmt)).get)
      assert(f(0) === 0xCC / 255.0f, s"$fmt mean R")
      assert(f(1) === 0x66 / 255.0f, s"$fmt mean G")
      assert(f(2) === 0x33 / 255.0f, s"$fmt mean B")
      assert(f(4) === 0.0f, s"$fmt luma stddev")
      assert(f(5) === 0.0f, s"$fmt gradient")
      assert(f(6) === 8.0f / 12.0f, s"$fmt aspect")
    }
    // two-band image: gradient strictly positive, means averaged exactly
    val img = new java.awt.image.BufferedImage(
      2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000); img.setRGB(1, 0, 0xFFFFFF)
    val f2 = Multimodal.pixelFeatures(img)
    assert(f2(0) === 0.5f && f2(3) === 0.5f)
    assert(f2(4) > 0.49f && f2(5) === 1.0f)
    // the batched decode routes decodable images through pixelFeatures
    // (not the stub): same bytes, same vector
    val media = Seq((1L, "image", solid(8, 4, 0xCC6633, "png")))
      .toDF("media_id", "media_type", "payload")
    val viaPlumbing = Multimodal.decodeFeatures(media).collect().head
    assert(viaPlumbing.feature.toSeq === Multimodal.pixelFeatures(
      Multimodal.decodeImage(solid(8, 4, 0xCC6633, "png")).get).toSeq)
    // non-image payloads still take the documented stub boundary
    val stubMedia = Seq((2L, "audio", Array[Byte](1, 2, 3)))
      .toDF("media_id", "media_type", "payload")
    val stubGot = Multimodal.decodeFeatures(stubMedia).collect().head
    assert(stubGot.feature.toSeq ===
      Multimodal.stubDecode(Array[Byte](1, 2, 3)).toSeq)
  }

  test("frame sampling emits one row per step offset") {
    val media = Seq((1L, "image", Array[Byte](1), 0, 0, 1200),
        (2L, "image", Array[Byte](1), 0, 0, 0))
      .toDF("media_id", "media_type", "payload", "width", "height", "duration_ms")
    val got = Multimodal.sampleOffsets(media, stepMs = 500)
      .select("media_id", "offset_ms").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got === Set((1L, 0), (1L, 500), (1L, 1000)))
  }

  test("injected codec claims its payloads; built-in and stub paths " +
      "untouched (the deployment decode extension point)") {
    val riff = "RIFFxxxxWAVEdata".getBytes
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", out))
      out.toByteArray
    }
    val media = Seq(
      (1L, "audio", riff),             // claimed by the injected codec
      (2L, "image", png(7, 5)),        // built-in imageio path
      (3L, "audio", "nomagic".getBytes)) // unclaimed -> documented stub
      .toDF("media_id", "media_type", "payload")
    val got = Multimodal
      .decodeFeatures(media, codecs = Seq(FixtureWavCodec))
      .collect().sortBy(_.media_id)
    // the codec decoded ONLY what it claims
    assert(got(0).feature.toSeq === Seq.fill(8)(riff.length.toFloat))
    assert(got(0).decoded_width === None)
    // imageio rows untouched by the injection
    assert(got(1).decoded_width === Some(7) &&
      got(1).decoded_height === Some(5))
    // unclaimed audio keeps the stub boundary
    assert(got(2).feature.toSeq ===
      Multimodal.stubDecode("nomagic".getBytes).toSeq)
    // the default registry (WavCodec) claims the RIFF magic but this
    // payload is not a decodable WAV — fail-soft keeps the row
    // byte-identical to the codec-less build (the mm_decode_features
    // digest pin stays green on this contract)
    val dflt = Multimodal.decodeFeatures(media).collect().sortBy(_.media_id)
    assert(dflt(0).feature.toSeq === Multimodal.stubDecode(riff).toSeq)
    assert(dflt(1).feature.toSeq === got(1).feature.toSeq)
    // and with the registry explicitly emptied: same rows again
    val bare = Multimodal.decodeFeatures(media, codecs = Nil)
      .collect().sortBy(_.media_id)
    assert(bare.map(_.feature.toSeq).toSeq === dflt.map(_.feature.toSeq).toSeq)
  }

  // 16-bit signed little-endian PCM WAV through the same JDK writer a
  // deployment would read with
  private def wav16(samples: Array[Short], channels: Int,
                    rate: Float): Array[Byte] = {
    val bytes = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      bytes(2 * i) = (samples(i) & 0xff).toByte
      bytes(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels,
      true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt,
      samples.length.toLong / channels)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("WAV codec decodes REAL PCM audio (exact on synthetic signals)") {
    import graft.multimodal.WavCodec
    // constant +0.5 mono: mean/rms/peak exactly 0.5, zero crossings,
    // zero delta — impossible for the byte-hash stub to fake
    val const = wav16(Array.fill[Short](100)(16384), 1, 8000f)
    assert(WavCodec.claims("audio", const))
    val f = WavCodec.decode("audio", const).feature
    assert(f(0) === 0.75f)                       // (mean 0.5 + 1)/2
    assert(f(1) === 0.5f)                        // rms
    assert(f(2) === 0.5f)                        // peak
    assert(f(3) === 0.0f)                        // zero-crossing rate
    assert(f(4) === 0.0f)                        // mean |delta|/2
    assert(f(5) === 0.5f)                        // mono: 1/(1+1)
    assert(math.abs(f(6) - math.log10(8001.0) / 6.0) < 1e-6)
    assert(math.abs(f(7) - math.log10(101.0) / 9.0) < 1e-6)

    // alternating +-0.5 mono: every sample pair crosses zero, mean 0
    val alt = wav16(Array.tabulate[Short](100)(i =>
      if (i % 2 == 0) 16384 else -16384), 1, 8000f)
    val g = WavCodec.decode("audio", alt).feature
    assert(g(0) === 0.5f)                        // mean 0
    assert(g(1) === 0.5f)                        // rms
    assert(g(3) === 1.0f)                        // zcr: all pairs cross
    assert(g(4) === 0.5f)                        // |delta| 1.0 / 2

    // stereo with L=+0.5 R=-0.5: mono mix silent, peak still 0.5,
    // channel count surfaces in f5
    val st = wav16(Array.tabulate[Short](200)(i =>
      if (i % 2 == 0) 16384 else -16384), 2, 44100f)
    val h = WavCodec.decode("audio", st).feature
    assert(h(0) === 0.5f && h(1) === 0.0f && h(2) === 0.5f)
    assert(h(3) === 0.0f && h(4) === 0.0f)
    assert(math.abs(h(5) - 2f / 3f) < 1e-6)

    // 8-bit unsigned PCM (the other canonical WAV width): value 192
    // recenters to exactly +0.5
    val fmt8 = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais8 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(Array.fill[Byte](50)(192.toByte)),
      fmt8, 50L)
    val out8 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais8,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out8)
    val u = WavCodec.decode("audio", out8.toByteArray).feature
    assert(u(0) === 0.75f && u(1) === 0.5f && u(2) === 0.5f)

    // truncated WAV: magic still claims, decode fails SOFT to the
    // documented stub (same contract as truncated images)
    val trunc = const.take(16)
    assert(WavCodec.claims("audio", trunc))
    assert(WavCodec.decode("audio", trunc).feature.toSeq ===
      Multimodal.stubDecode(trunc).toSeq)

    // non-PCM WAV (mu-law) exercises the JDK conversion branch: lossy
    // companding, so near-exact with a quantization tolerance
    val pcmFmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
      true, false)
    val pcmAis = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(
        Array.tabulate[Byte](200)(i =>
          if (i % 2 == 0) 0x00.toByte else 0x40.toByte)), // 0x4000=+0.5 LE
      pcmFmt, 100L)
    val ulawAis = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.ULAW,
        8000f, 8, 1, 1, 8000f, false), pcmAis)
    val outU = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ulawAis,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, outU)
    val ul = WavCodec.decode("audio", outU.toByteArray).feature
    assert(math.abs(ul(1) - 0.5f) < 0.02f, s"ulaw rms ${ul(1)}")
    assert(ul(3) === 0.0f && ul(5) === 0.5f)
  }

  test("WAV decode flows through the DEFAULT registry end-to-end: real " +
      "audio features alongside real pixel features in one batch") {
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", out))
      out.toByteArray
    }
    val const = wav16(Array.fill[Short](100)(16384), 1, 8000f)
    val media = Seq(
      (1L, "audio", const),               // real WAV -> WavCodec
      (2L, "image", png(7, 5)),           // imageio path below the chain
      (3L, "audio", const.take(16)),      // claims, fails soft -> stub
      (4L, "text", "plain".getBytes))     // unclaimed -> stub
      .toDF("media_id", "media_type", "payload")
    val got = Multimodal.decodeFeatures(media).collect().sortBy(_.media_id)
    assert(got(0).feature(0) === 0.75f && got(0).feature(1) === 0.5f)
    assert(got(0).decoded_width === None)
    assert(got(1).decoded_width === Some(7) &&
      got(1).decoded_height === Some(5))
    assert(got(2).feature.toSeq ===
      Multimodal.stubDecode(const.take(16)).toSeq)
    assert(got(3).feature.toSeq ===
      Multimodal.stubDecode("plain".getBytes).toSeq)
  }

  test("append-only delta save: appendSave writes only the increment, " +
      "load unions fragments, compact folds them — classification " +
      "parity throughout, debris swept") {
    import graft.dedup.SemanticIndexIO
    val docs = Tables.documents(spark, sf)
    val hist = docs.filter(pmod($"doc_id", lit(3)) =!= 0)
    val inc = docs.filter(pmod($"doc_id", lit(3)) === 0).limit(40)
      .select(($"doc_id" + 500000).as("doc_id"), $"text")
    val batch = docs.filter(pmod($"doc_id", lit(5)) === 0)
      .select(($"doc_id" + 900000).as("doc_id"), $"text")
    def rows(idx: Dedup.SemanticIndex): Set[Seq[Any]] =
      Dedup.semanticStatus(batch, idx, "doc_id", "text")
        .select($"doc_id", $"status", $"match_id", $"best_sim")
        .collect().map(_.toSeq).toSet
    // two-level shape: the richer quantizer tree + own-cell probes
    val idx = Dedup.semanticIndex(hist, "doc_id", "text", hierThreshold = 0L)
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semio_delta").toString
    try {
      SemanticIndexIO.save(idx, dir)
      val loaded = SemanticIndexIO.load(spark, dir)
      // in-memory truth: the grown index a non-stored deployment holds
      val encoded = Dedup.semanticEncode(loaded, inc, "doc_id", "text")
      val grownMem = Dedup.semanticAppendEncoded(loaded, encoded)
      val grownRows = rows(grownMem)
      val grownN = grownMem.codes.count()
      // the DELTA cycle: only the increment's rows hit disk
      SemanticIndexIO.appendSave(spark, dir, encoded)
      assert(SemanticIndexIO.fragmentCount(spark, dir) === 2)
      val reloaded = SemanticIndexIO.load(spark, dir)
      assert(reloaded.codes.count() === grownN)
      assert(rows(reloaded) === grownRows)
      // stored-pruned classification: bit-identical to the full scan
      val prunedRows = Dedup.semanticStatusStored(spark, dir, batch,
          "doc_id", "text")
        .select($"doc_id", $"status", $"match_id", $"best_sim")
        .collect().map(_.toSeq).toSet
      assert(prunedRows === grownRows)
      // debris: an orphan fragment and a stale SEALED generation (the
      // crash-after-flip leak) are invisible to load and swept by the
      // next save — every gen != committed and every unreferenced frag
      // is debris by the commit protocol
      val orphanFrag = java.nio.file.Paths.get(dir, "codesroot", "frag=99")
      java.nio.file.Files.createDirectories(orphanFrag)
      java.nio.file.Files.write(orphanFrag.resolve("junk.parquet"),
        Array[Byte](9))
      val staleGen = java.nio.file.Paths.get(dir, "gen=7")
      java.nio.file.Files.createDirectories(staleGen)
      java.nio.file.Files.write(staleGen.resolve("manifest.txt"),
        "frag=99".getBytes("UTF-8"))
      assert(rows(SemanticIndexIO.load(spark, dir)) === grownRows)
      SemanticIndexIO.appendSave(spark, dir,
        Dedup.semanticEncode(reloaded, inc.limit(3)
          .select(($"doc_id" + 1000000).as("doc_id"), $"text"),
          "doc_id", "text"))
      assert(!java.nio.file.Files.exists(orphanFrag),
        "orphan fragment survived the sweep")
      assert(!java.nio.file.Files.exists(staleGen),
        "stale sealed generation survived the sweep")
      assert(SemanticIndexIO.fragmentCount(spark, dir) === 3)
      // compaction folds the fragments into one; classification holds
      val beforeCompact = rows(SemanticIndexIO.load(spark, dir))
      SemanticIndexIO.compact(spark, dir)
      assert(SemanticIndexIO.fragmentCount(spark, dir) === 1)
      assert(rows(SemanticIndexIO.load(spark, dir)) === beforeCompact)
    } finally Tables.deleteTree(java.nio.file.Paths.get(dir))
  }

}

/** Fixture codec for the injection spec: claims RIFF-magic audio
  * payloads, derives a deterministic feature from payload length —
  * standing in for a real audio decoder behind the same boundary.
  * Top-level object: the mapPartitions closure must not capture the
  * (non-serializable) spec instance.
  */
private object FixtureWavCodec extends Multimodal.MediaCodec {
  val name = "wav-fixture"
  def claims(tpe: String, p: Array[Byte]): Boolean =
    tpe == "audio" && p.length >= 4 &&
      p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F'
  def decode(tpe: String, p: Array[Byte]): Multimodal.Decoded =
    Multimodal.Decoded(None, None, Array.fill(8)(p.length.toFloat))
}
