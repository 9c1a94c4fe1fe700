package graft.pipeline

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Semantics of the curation operators on controlled inputs (the DuckDB
  * hash-compare covers the registered query shapes). */
class CurationSpec extends SparkSpec {

  test("hash split is deterministic, disjoint, and roughly 90/5/5") {
    val a = Curation.hashSplit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Curation.hashSplit(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, "split must be run-deterministic")
    val total = a.values.sum
    assert(total == Tables.t(spark, sf, "documents").count())
    assert(a("train").toDouble / total > 0.8, s"train fraction collapsed: $a")
    assert(a.getOrElse("val", 0L) + a.getOrElse("test", 0L) > 0, s"no holdout: $a")
  }

  test("x54b: token windows partition every word exactly; capacity bound holds") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    // Planted: wtoks [the=1, customer=6, xyzq=4, that=1] with W=4 —
    // prefixes 0,1,7,11 → win ids 0,0,1,2: the straddling 'customer'
    // belongs to the range its FIRST subword falls in.
    val planted = Seq((1L, "the customer xyzq that")).toDF("doc_id", "text")
    val pw = Curation.tokenWindowsOf(planted, 4).collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getInt(4), r.getInt(5)))).toMap
    assert(pw == Map(0L -> ((2L, 7L, 0, 1)), 1L -> ((1L, 4L, 2, 2)), 2L -> ((1L, 1L, 3, 3))),
      s"hand-derived windows must match: $pw")
    // Corpus invariants: every nonempty word in exactly one window;
    // per-window mass ≤ W + (max word tokens − 1); spans ordered.
    val out = Curation.tokenWindowsOf(Tables.t(spark, sf, "documents"),
      Curation.TokenWinLen).collect()
    val totalWords = Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w")).filter(length(col("w")) > 0).count()
    assert(out.map(_.getLong(2)).sum == totalWords,
      "windows must partition the corpus's words exactly")
    val maxWordTok = Tables.t(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w")).filter(length(col("w")) > 0)
      .select(max(graft.pipeline.Bpe.subwordCount(col("w")))).head().getLong(0)
    out.foreach { r =>
      assert(r.getLong(3) <= Curation.TokenWinLen + maxWordTok - 1,
        s"window over capacity: $r (max word $maxWordTok)")
      assert(r.getInt(4) <= r.getInt(5), s"span must be ordered: $r")
    }
    assert(out.exists(_.getLong(1) >= 2L), "the regime must produce multi-window docs")
  }

  test("x15c: subword-unit shard packing holds the same overshoot bound in the new unit") {
    graft.functions.GraftFunctions.register(spark)
    val budget = 2000
    val shards = Curation.shardPackBpe(spark, sf, budget).collect()
    assert(shards.length > 1, "sf0.001 spans multiple 2000-subword shards")
    val maxDocTok = Tables.t(spark, sf, "documents")
      .select(max(Bpe.subwordCount(col("text")))).head().getLong(0)
    shards.foreach { r =>
      assert(r.getLong(2) <= budget + maxDocTok,
        s"shard ${r.getLong(0)} holds ${r.getLong(2)} subword tokens " +
          s"(budget $budget + max doc $maxDocTok)")
    }
    // The unit matters: the same budget in whitespace tokens packs ~3.4×
    // fewer shards — pinning that the two registrations genuinely differ.
    val ws = Curation.shardPack(spark, sf, budget).collect()
    assert(shards.length > ws.length,
      s"subword unit must pack more shards at equal budget: ${shards.length} vs ${ws.length}")
  }

  test("shard packing respects the token budget up to one document overhang") {
    val budget = 500
    val shards = Curation.shardPack(spark, sf, budget).collect()
    assert(shards.length > 1, "sf0.001 corpus should span multiple 500-token shards")
    val maxDocTok = Tables.t(spark, sf, "documents")
      .select(max(size(split(col("text"), " ")))).head().getInt(0)
    shards.foreach { r =>
      val tokens = r.getLong(2)
      assert(tokens <= budget + maxDocTok,
        s"shard ${r.getLong(0)} holds $tokens tokens (budget $budget + max doc $maxDocTok)")
    }
    // Shards partition the corpus in doc_id order: first/last ranges nest.
    val ordered = shards.sortBy(_.getLong(0))
    ordered.sliding(2).foreach {
      case Array(x, y) => assert(x.getLong(4) < y.getLong(3), "shard ranges must not overlap")
      case _ =>
    }
  }

  test("partitioned shard packing: per-shard budget, order, decodable ids, no single-task plan") {
    val budget = 500
    val perDoc = Curation.shardPackPartitioned(spark, sf, budget)
    // Scale gate: the production form must never funnel the corpus
    // through one task (the global x15 form does, by design, for the
    // oracle). SinglePartition only appears for a single-partition
    // exchange; the pid window is a hash exchange.
    val plan = perDoc.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"partitioned packer must not plan a single-partition exchange:\n$plan")
    val rows = perDoc.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == graft.Tables.t(spark, sf, "documents").count(),
      "every document is assigned to exactly one shard")
    // Shard ids decode back to their producing partition.
    rows.foreach { case (doc, _, pid, local, shard) =>
      assert(shard == (pid << 32 | local), s"shard id must embed pid: doc $doc")
    }
    // Exclusive-prefix-sum packing invariant, per shard: the token sum
    // excluding the shard's LAST doc is < budget (so a shard over-runs
    // the budget by at most one document, hence ≤ budget+1 docs when
    // every doc has ≥ 1 token).
    rows.groupBy(_._5).foreach { case (shard, docsInShard) =>
      val sorted = docsInShard.sortBy(_._1)
      val sumButLast = sorted.init.map(_._2).sum
      assert(sumButLast < budget,
        s"shard $shard holds $sumButLast tokens before its last doc (budget $budget)")
      assert(sorted.length <= budget + 1, s"shard $shard exceeds budget+1 docs")
    }
    // Within a partition, packing follows doc_id order: local shard ids
    // are non-decreasing in doc_id.
    rows.groupBy(_._3).foreach { case (pid, docsInPid) =>
      val locals = docsInPid.sortBy(_._1).map(_._4)
      assert(locals.zip(locals.tail).forall { case (a, b) => a <= b },
        s"partition $pid packs out of doc_id order")
    }
    // Same corpus mass as the global oracle form.
    val globalTokens = Curation.shardPack(spark, sf, budget).collect().map(_.getLong(2)).sum
    assert(rows.map(_._2).sum == globalTokens, "partitioned form must cover the same tokens")
  }

  test("x15d: hash-stratum packing holds the per-stratum budget bound; ids decode; full coverage") {
    val budget = 500
    val perDoc = Curation.shardPackStrata(spark, sf, budget)
    // Same scale gate as x15b: one hash exchange on the stratum, never a
    // single-partition funnel.
    val plan = perDoc.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"stratum packer must not plan a single-partition exchange:\n$plan")
    assert(plan.contains("hashpartitioning(stratum"),
      s"window must shuffle on the stratum key:\n$plan")
    val rows = perDoc.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.length == graft.Tables.t(spark, sf, "documents").count(),
      "every document is assigned to exactly one shard")
    rows.foreach { case (doc, _, stratum, local, shard) =>
      assert(stratum >= 0 && stratum < Curation.ShardStrata, s"stratum range: doc $doc")
      assert(shard == (stratum << 32 | local), s"shard id must embed stratum: doc $doc")
    }
    // The ≤ budget+1 overshoot bound, PER STRATUM: within every shard,
    // the token sum excluding the shard's last doc is < budget (the last
    // doc may overshoot by its own size; a doc larger than the budget
    // gets its own shard), hence ≤ budget+1 docs when every doc has ≥ 1
    // token.
    rows.groupBy(_._5).foreach { case (shard, docsInShard) =>
      val sorted = docsInShard.sortBy(_._1)
      val sumButLast = sorted.init.map(_._2).sum
      assert(sumButLast < budget,
        s"shard $shard holds $sumButLast tokens before its last doc (budget $budget)")
      assert(sorted.length <= budget + 1, s"shard $shard exceeds budget+1 docs")
    }
    // Within a stratum, packing follows doc_id order.
    rows.groupBy(_._3).foreach { case (stratum, docsInStratum) =>
      val locals = docsInStratum.sortBy(_._1).map(_._4)
      assert(locals.zip(locals.tail).forall { case (a, b) => a <= b },
        s"stratum $stratum packs out of doc_id order")
    }
    // Same corpus mass as the global oracle form, and the manifest
    // aggregates exactly these per-doc rows.
    val globalTokens = Curation.shardPack(spark, sf, budget).collect().map(_.getLong(2)).sum
    assert(rows.map(_._2).sum == globalTokens, "stratum form must cover the same tokens")
    val manifest = Curation.shardPackStrataManifest(spark, sf, budget).collect()
    assert(manifest.map(_.getLong(2)).sum == rows.length,
      "manifest doc counts must total the corpus")
    manifest.foreach(r => assert(r.getLong(1) == (r.getLong(0) >> 32),
      "manifest stratum must decode from shard_id"))
  }

  test("dedup clusters are transitive (A~B, B~C, A!~C still one cluster)") {
    import spark.implicits._
    // 29 divides every doc_id so the % 29 slice keeps all docs. A chain:
    // doc 29 ~ doc 58 (shares u1..u4), doc 58 ~ doc 87 (shares v1..v4),
    // 29 and 87 share nothing. doc 116 is unrelated.
    val corpus = Seq(
      (29L, "u1 u2 u3 u4 a b"),
      (58L, "u1 u2 u3 u4 v1 v2 v3 v4"),
      (87L, "v1 v2 v3 v4 c d"),
      (116L, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("cc").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.dedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(29L, 58L, 87L), s"only paired docs belong to clusters: $out")
    assert(out.values.toSet == Set(29L), s"chain must collapse to one cluster rooted at 29: $out")
  }

  test("x34c: token-exact span dedup masks the shared passage to the token, keeps sub-L matches") {
    import spark.implicits._
    // Docs 1 and 2 share EXACTLY the 6-token passage p1..p6 at different
    // offsets, surrounded by disjoint context; docs 3 and 4 share only a
    // 4-token phrase (below L=5 — must survive untouched, the Lee et al.
    // semantics, not a defect); doc 5 is noise.
    val corpus = Seq(
      (1L, "a1 a2 p1 p2 p3 p4 p5 p6 a3 a4"),
      (2L, "b1 p1 p2 p3 p4 p5 p6 b2 b3 b4 b5"),
      (3L, "c1 c2 q1 q2 q3 q4 c3 c4 c5 c6"),
      (4L, "d1 q1 q2 q3 q4 d2 d3 d4 d5 d6"),
      (5L, "e1 e2 e3 e4 e5 e6 e7 e8 e9 e0")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("tokex")
    try {
      corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val out = Curation.spanDedupTokenExact(spark, dir.toString).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      // Boundary exactness: EXACTLY the 6 passage tokens go, in both
      // docs, at both offsets — not one context token more (the rounding
      // x34's len-3 shingles cannot avoid).
      assert(out(1L) == ((10L, 6L, "a1 a2 a3 a4")), s"doc 1: ${out(1L)}")
      assert(out(2L) == ((11L, 6L, "b1 b2 b3 b4 b5")), s"doc 2: ${out(2L)}")
      // Sub-L survival: the 4-token shared phrase is BELOW the minimum
      // match — kept verbatim.
      assert(out(3L)._2 == 0L && out(4L)._2 == 0L,
        s"sub-L matches must survive: ${out(3L)}, ${out(4L)}")
      assert(out(5L)._2 == 0L)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("x126: compaction plan kills non-canonical members; agrees with x120's removable mass") {
    import spark.implicits._
    // Budget 10 tokens → the 4-doc transitive corpus packs into multiple
    // shards; docs 58 and 87 are the non-canonical members of the
    // {29,58,87} cluster (canonical 29), so exactly they count dead.
    val corpus = Seq(
      (29L, "u1 u2 u3 u4 a b"),
      (58L, "u1 u2 u3 u4 v1 v2 v3 v4"),
      (87L, "v1 v2 v3 v4 c d"),
      (116L, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("cplan").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Curation.dedupCompactionPlan(spark, dir, budget = 10).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(5), r.getBoolean(6)))).toMap
    // Exclusive prefix sums 0,6,14,20 at budget 10 → shards 0{29,58},
    // 1{87}, 2{116}.
    assert(rows.keySet == Set(0L, 1L, 2L), s"three shards at budget 10: $rows")
    assert(rows(0L) == ((2L, 1L, 5000L, true)),
      s"shard 0 holds dup 58 of 2 docs -> 5000 bp, rewrite: ${rows(0L)}")
    assert(rows(1L) == ((1L, 1L, 10000L, true)),
      s"shard 1 is entirely the dup 87: ${rows(1L)}")
    assert(rows(2L) == ((1L, 0L, 0L, false)),
      s"the singleton shard has nothing to rewrite: ${rows(2L)}")
    // Corpus invariant: total dead across shards equals x120's total
    // removable mass (the same keep-one dedup, two accountings).
    val deadTotal = Curation.dedupCompactionPlan(spark, sf).collect()
      .map(_.getLong(3)).sum
    val removedTotal = Curation.clusterSizeHistogram(spark, sf).collect()
      .map(_.getLong(3)).sum
    assert(deadTotal == removedTotal,
      s"shard accounting ($deadTotal) must equal histogram accounting ($removedTotal)")
  }

  test("x127: cross-source matrix reports exactly the planted mirror pair") {
    import spark.implicits._
    // Chain cluster {29, 58, 87} spans srcA (doc 29) and srcB (58, 87);
    // srcC's doc 116 is a singleton — no row may involve it.
    val corpus = Seq(
      (29L, "u1 u2 u3 u4 a b", "srcA"),
      (58L, "u1 u2 u3 u4 v1 v2 v3 v4", "srcB"),
      (87L, "v1 v2 v3 v4 c d", "srcB"),
      (116L, "w1 w2 w3 w4 w5 w6", "srcC")).toDF("doc_id", "text", "source")
    val dir = java.nio.file.Files.createTempDirectory("xsrc").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.crossSourceDups(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out == Map(("srcA", "srcB") -> ((1L, 1L, 2L))),
      s"exactly one shared cluster, 1 srcA doc vs 2 srcB docs: $out")
    // Corpus: ordered pairs, positive cells, deterministic.
    val rows = Curation.crossSourceDups(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "pairs are (min, max)-oriented")
      assert(r.getLong(2) >= 1 && r.getLong(3) >= 1 && r.getLong(4) >= 1, s"cells positive: $r")
    }
    assert(rows.toSeq == Curation.crossSourceDups(spark, sf).collect().toSeq)
  }

  test("x120: cluster-size histogram counts the planted chain exactly; corpus invariants hold") {
    import spark.implicits._
    // The transitive-chain corpus: {29,58,87} one cluster of 3, {116} a
    // singleton → histogram has exactly two rows with exact cells.
    val corpus = Seq(
      (29L, "u1 u2 u3 u4 a b"),
      (58L, "u1 u2 u3 u4 v1 v2 v3 v4"),
      (87L, "v1 v2 v3 v4 c d"),
      (116L, "w1 w2 w3 w4 w5 w6")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("csh").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val h = Curation.clusterSizeHistogram(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(h == Map(
      1L -> ((1L, 1L, 0L, 250000L)),
      3L -> ((1L, 3L, 2L, 750000L))), s"planted histogram: $h")
    // Corpus invariants: doc mass partitions; every size row divides
    // exactly; agrees with the x75 per-doc cluster sizes.
    val rows = Curation.clusterSizeHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val nDocs = graft.Tables.t(spark, sf, "documents").count()
    assert(rows.map(_._3).sum == nDocs, "histogram must partition the corpus's docs")
    rows.foreach { case (size, nc, nd, rem, _) =>
      assert(nd % size == 0, s"size-$size mass must divide exactly")
      assert(nc == nd / size && rem == nd - nc, s"size-$size laws")
    }
    val fromWeights = Curation.dedupWeights(spark, sf).collect()
      .groupBy(_.getLong(2)).map { case (k, v) => k -> v.length.toLong }
    assert(rows.map(r => r._1 -> r._3).toMap == fromWeights,
      "histogram must agree with x75's per-doc cluster sizes")
  }

  test("x121: a new doc bridges two standing clusters; incremental equals full recompute") {
    import spark.implicits._
    // Old corpus: cluster {10,12} (J=9/11), cluster {20,22} (J=9/11),
    // singleton 30. J(12,22) = 8/12 < 0.8 → separate standing clusters.
    // New batch: doc 11 = shared8 ∪ {b1,y1} sits at J=9/11 ≥ 0.8 to BOTH
    // 12 and 22 → the merge must fuse both old clusters THROUGH their
    // star edges into one component rooted at 10; doc 13 is unrelated.
    val s8 = (1 to 8).map(i => s"s$i").mkString(" ")
    val oldFixed = Seq(
      (10L, s"$s8 b1 a1"),
      (12L, s"$s8 b1 b2"),
      (20L, s"$s8 y1 x1"),
      (22L, s"$s8 y1 y2"),
      (30L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w0")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, s"$s8 b1 y1"),
      (13L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z0")).toDF("doc_id", "text")
    val out = Curation.incrementalClusters(batch, oldFixed, 0.8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // Separation premise: cross-cluster old pairs sit at J = 8/12 < 0.8.
    val oldPairs = Dedup.jaccardPairsPrefixOn(oldFixed, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oldPairs == Set((10L, 12L), (20L, 22L)),
      s"standing index must hold exactly two separate clusters: $oldPairs")
    assert(out(30L) == ((30L, 1L)) && out(13L) == ((13L, 1L)), "singletons stay alone")
    val merged = Set(10L, 11L, 12L, 20L, 22L)
    merged.foreach(id => assert(out(id) == ((10L, 5L)),
      s"doc $id must land in the fused cluster rooted at 10: $out"))
    // Incremental ≡ full recompute on the union (the oracle proves this
    // at corpus scale; this pins it on the planted shape in-engine).
    val full = Curation.dedupClustersFromPairs(
      Dedup.jaccardPairsPrefixOn(oldFixed.union(batch), 0.8)
        .select(col("da"), col("db"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { case (id, (cid, _)) =>
      assert(full.getOrElse(id, id) == cid, s"doc $id: incremental $cid vs full $full")
    }
  }

  test("x132: merge report counts joins, novel clusters, singletons, and fusions on the planted wave") {
    import spark.implicits._
    // x121's planted shape extended with a novel batch-only pair:
    // standing clusters {10,12} and {20,22}, singleton 30; batch doc 11
    // bridges BOTH standing clusters (1 join + 1 fusion), 13 is
    // unrelated (1 singleton), {14,15} are exact dups of each other but
    // nothing standing (1 novel batch-only cluster).
    val s8 = (1 to 8).map(i => s"s$i").mkString(" ")
    val oldFixed = Seq(
      (10L, s"$s8 b1 a1"),
      (12L, s"$s8 b1 b2"),
      (20L, s"$s8 y1 x1"),
      (22L, s"$s8 y1 y2"),
      (30L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w0")).toDF("doc_id", "text")
    val batch = Seq(
      (11L, s"$s8 b1 y1"),
      (13L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z0"),
      (14L, "v1 v2 v3"),
      (15L, "v1 v2 v3")).toDF("doc_id", "text")
    val oldLabels = Curation.propagateMinLabels(Curation.undirectedEdges(
      Dedup.jaccardPairsPrefixOn(oldFixed, 0.8).select(col("da"), col("db"))))._1
    val r = Curation.incrementalMergeReport(batch, oldFixed, oldLabels, 0.8)
      .collect()(0)
    assert((0 until 7).map(r.getLong) == Seq(4L, 5L, 1L, 1L, 1L, 2L, 1L),
      s"(n_batch, n_ref, joined_old, new_clusters, singletons, old_clusters, fusions): $r")
  }

  test("Bloom mask OR-merge equals a fresh union build (mask bits AND probe sets)") {
    import spark.implicits._
    // The driver-side fit family's maintenance law: a growing eval
    // suite extends the standing mask by OR, never re-hashing history.
    val evalA = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val evalB = Seq((2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
    val mA = Curation.bloomMaskOf(evalA)
    val mB = Curation.bloomMaskOf(evalB)
    val merged = Curation.mergeBloomMasks(mA, mB)
    val fresh = Curation.bloomMaskOf(evalA.union(evalB))
    assert(merged.sameElements(fresh), "OR-merge must equal the union build bit for bit")
    // Probe-set equality: a train corpus gated by the merged mask flags
    // exactly what the fresh union mask flags (incl. a doc that only
    // the B side contaminates).
    val train = Seq(
      (10L, "alpha beta gamma delta padding words here"),
      (11L, "epsilon zeta eta theta other padding text"),
      (12L, "completely unrelated clean document body")).toDF("doc_id", "text")
    val viaMerged = Curation.bloomDeconWithMask(train, merged).collect().toSeq
    val viaFresh = Curation.bloomDeconWithMask(train, fresh).collect().toSeq
    assert(viaMerged == viaFresh, "probe results identical")
    val flagged = viaMerged.filter(_.getBoolean(3)).map(_.getLong(0)).toSet
    assert(flagged == Set(10L, 11L), s"both sides' contamination flagged: $flagged")
    intercept[IllegalArgumentException] {
      Curation.mergeBloomMasks(mA, new Array[Long](1))
    }
  }

  test("x121: sub-0.5 thresholds are rejected (prefix losslessness bound)") {
    import spark.implicits._
    // Below t = 0.5 the prefix filter loses pairs, so the incremental
    // merge would silently diverge from a full recluster — the public
    // entry points must fail loudly instead (r13 advice).
    val a = Seq((1L, "a b c")).toDF("doc_id", "text")
    val b = Seq((2L, "a b d")).toDF("doc_id", "text")
    val lbl = Seq((1L, 1L)).toDF("node", "lbl")
    intercept[IllegalArgumentException] {
      Curation.incrementalClustersFromIndex(a, b, lbl, 0.4)
    }
    intercept[IllegalArgumentException] {
      Dedup.crossNearDupPairs(a, b, 0.49)
    }
    // At the bound itself both construct fine.
    assert(Curation.incrementalClustersFromIndex(a, b, lbl, 0.5).count() == 2)
  }

  test("memoModel is reentrant: nested cold-cache index builds never throw (r12 regression)") {
    // Round-12 bug: b28Labels's memoModel fit thunk calls b28Pairs —
    // a nested computeIfAbsent on the same ConcurrentHashMap threw
    // IllegalStateException("Recursive update") whenever the two keys
    // landed in the same bin (intermittent because the key embeds the
    // applicationId). The fix computes fits outside the map lock
    // (get → compute → putIfAbsent). This spec forces the nested build
    // path COLD repeatedly — every iteration clears the model cache, so
    // b28Labels must rebuild and its thunk must re-enter memoModel for
    // b28Pairs each time — and asserts identical results across runs.
    val ref = Curation.dedupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ref.nonEmpty, "sf0.001 corpus must contain near-dup clusters")
    (1 to 5).foreach { i =>
      Ivf.clearModelCache()
      val again = Curation.dedupClusters(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(again == ref, s"cold rebuild $i diverged from the reference run")
    }
    // The other nested tenant: semantic labels build from the LSH pair
    // frame inside the same cache. Drive it cold once as well.
    Ivf.clearModelCache()
    assert(Similarity.semanticDedup(spark, sf).count() > 0)
  }

  test("x106: k-anonymity flags the singleton class, classes partition the corpus") {
    import spark.implicits._
    // Six docs share (en, web, bucket 2); one doc is alone in
    // (fr, rare, bucket 2) — the linkable outlier.
    val fiveTok = "t1 t2 t3 t4 t5" // 5 tokens -> bucket floor(log2 5) = 2
    val corpus = ((1L to 6L).map(i => (i, fiveTok, "en", "web")) :+
      (7L, fiveTok, "fr", "rare"))
      .toDF("doc_id", "text", "lang", "source")
    val dir = java.nio.file.Files.createTempDirectory("kanon")
    try {
      corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = Curation.kAnonymityAudit(spark, dir.toString).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)) ->
          (r.getLong(3), r.getLong(4), r.getBoolean(5))).toMap
      assert(rows(("en", "web", 2L)) == ((6L, 21L, true)))
      assert(rows(("fr", "rare", 2L)) == ((1L, 7L, false)),
        "a singleton quasi-identifier class is linkable and must be flagged")
      // Classes partition the corpus exactly (Σk = N, Σchecksum = Σids).
      assert(rows.values.map(_._1).sum == 7L)
      assert(rows.values.map(_._2).sum == (1L to 7L).sum)
      rows.values.foreach { case (k, _, anon) =>
        assert(anon == (k >= Curation.KAnonymityK), "verdict law")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("label propagation converges in O(log d) rounds on a diameter-20 path graph") {
    import spark.implicits._
    // Path 0-1-2-...-20: the adversarial shape for plain neighbor-min
    // propagation (needs diameter+1 = 21 rounds). Pointer doubling
    // shortcuts label chains: the shift after round r is a_r = 2(a_{r-1}+1)
    // (2, 6, 14, 30, ...), so 21 nodes collapse in 4 rounds + 1 to detect
    // the fixpoint. This pins the MaxRounds=100 rationale: it bounds
    // diameter ~2^100, firing only on a structural bug.
    val edges = (0L until 20L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    // driverEdgeBudget = 0 pins the DISTRIBUTED loop (the default
    // dispatch resolves a 20-edge graph driver-side in one round).
    val (labels, rounds) = Curation.propagateMinLabels(edges, driverEdgeBudget = 0L)
    val out = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == (0L to 20L).toSet)
    assert(out.values.forall(_ == 0L), s"every node must reach the component min: $out")
    assert(rounds <= 6, s"doubling must beat the diameter (took $rounds rounds for d=20)")
    assert(rounds >= 3, s"a diameter-20 path cannot converge in ${rounds - 1} propagation rounds")
  }

  test("propagation driver dispatch is bit-equal to the distributed loop") {
    import spark.implicits._
    // The dispatch contract (the x29/x46c discipline): both branches of
    // the cost dispatch produce the identical label map. Planted mix:
    // two cliques bridged by a chain, a long path, self-contained
    // pairs, and id gaps — shapes that exercise contraction, doubling,
    // and the pre-pass fallback (fully-collapsed components).
    val pairs = (
      (1L to 5L).combinations(2).map(s => (s(0), s(1))).toSeq ++ // clique 1-5
        (10L to 13L).combinations(2).map(s => (s(0), s(1))).toSeq ++ // clique 10-13
        Seq((5L, 7L), (7L, 9L), (9L, 10L)) ++ // bridge chain
        (100L to 120L).sliding(2).map(s => (s.head, s(1))).toSeq ++ // path
        Seq((500L, 501L))
      ).toDF("da", "db")
    val edges = Curation.undirectedEdges(pairs)
    val viaDriver = Curation.propagateMinLabels(edges)
      ._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaLoop = Curation.propagateMinLabels(edges, driverEdgeBudget = 0L)
      ._1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDriver == viaLoop,
      s"dispatch branches disagree:\ndriver=$viaDriver\nloop=$viaLoop")
    assert(viaDriver((1L to 13L).filter(viaDriver.contains).max) == 1L,
      "bridged cliques form one component labelled by the global min")
    // The post-contraction driver branch: a budget under the 80 directed
    // edges skips the front door, and one at or above the 46 contracted
    // edges resolves them by driver union-find after the pre-pass. That
    // branch reports 1 round; the loop reports at least 2.
    val (afterContraction, rounds) =
      Curation.propagateMinLabels(edges, driverEdgeBudget = 60L)
    assert(rounds == 1, s"post-contraction driver branch not taken: $rounds rounds")
    val viaContracted =
      afterContraction.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaContracted == viaLoop,
      s"post-contraction branch disagrees:\ncontracted=$viaContracted\nloop=$viaLoop")
  }

  test("pagerank driver dispatch is bit-equal to the distributed iteration plan") {
    import spark.implicits._
    // Same dispatch contract as the propagation test above, for the x60
    // rank loop: both branches produce the identical (rank_mass, n_out)
    // map. The planted mix exercises every closed-form case the driver
    // branch special-cases: a clique (dense contributions), a chain
    // (asymmetric degrees), a pair, ISOLATED nodes (7, 8 — in the nodes
    // frame but in no edge: must read teleport-only 150000 with n_out 0),
    // and an edge endpoint NOT in the nodes frame (999 — must contribute
    // nothing and emit no row, the distributed inner-join semantics).
    val pairs = (
      (1L to 4L).combinations(2).map(s => (s(0), s(1))).toSeq ++
        Seq((10L, 11L), (11L, 12L), (20L, 21L), (5L, 999L))
      ).toDF("da", "db")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 7L, 8L, 10L, 11L, 12L, 20L, 21L)
      .toDF("doc_id")
    val edges = Curation.undirectedEdges(pairs)
    def collectRanks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val viaDriver = collectRanks(Curation.pagerankFrame(nodes, edges, 5))
    val viaPlan = collectRanks(
      Curation.pagerankFrame(nodes, edges, 5, driverEdgeBudget = 0L))
    assert(viaDriver == viaPlan,
      s"pagerank dispatch branches disagree:\ndriver=$viaDriver\nplan=$viaPlan")
    assert(viaDriver(7L) == ((150000L, 0L)), "isolated node is teleport-only")
    assert(!viaDriver.contains(999L), "foreign endpoint emits no row")
    assert(viaDriver(1L)._2 == 3L, "clique member keeps its degree as n_out")
  }

  test("decontamination flags only train docs sharing shingles with the eval slice") {
    import spark.implicits._
    // 97 divides 97 and 194: those are the "eval" docs. Train doc 1 copies
    // eval text (contaminated); train doc 2 is clean.
    val corpus = Seq(
      (97L, "the quick brown fox jumps high"),
      (194L, "completely different eval material here"),
      (1L, "prefix words then the quick brown fox jumps high suffix"),
      (2L, "nothing in common with held out data at all")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("decon").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.decontamination(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.contains(1L) && out(1L) >= 4, s"copied shingles must flag doc 1: $out")
    assert(!out.contains(2L), s"clean doc must not be flagged: $out")
    assert(!out.contains(97L) && !out.contains(194L), "eval docs are not scanned")
  }

  test("x93: the eval audit replays exactly from raw text driver-side") {
    // Full replay of the audit on the sf corpus: shingle every doc with
    // x17's definition (3-token windows, distinct, split keeping empty
    // tokens like Spark's split), fold the containment and worst-doc
    // argmax by hand, and pin every output row.
    def sh(t: String): Set[String] = {
      val tok = t.split(" ", -1)
      if (tok.length < 3) Set.empty
      else tok.sliding(3).map(_.mkString(" ")).toSet
    }
    val all = Tables.t(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> sh(Option(r.getString(1)).getOrElse("")))
    val evalIds = all.map(_._1).filter(_ % 97 == 0).toSet
    val evalSh = all.filter(r => evalIds(r._1)).toMap
    val train = all.filterNot(r => evalIds(r._1))
    val trainUnion = train.iterator.flatMap(_._2).toSet
    val out = Curation.evalContaminationAudit(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet == evalIds, "one audit row per eval item")
    out.foreach { r =>
      val id = r.getLong(0)
      val mySh = evalSh(id)
      val nHit = mySh.count(trainUnion)
      assert(r.getLong(1) == mySh.size.toLong, s"eval $id n_sh")
      assert(r.getLong(2) == nHit.toLong, s"eval $id n_hit")
      val bp = if (mySh.isEmpty) 0L else nHit.toLong * 10000L / mySh.size
      assert(r.getLong(3) == bp, s"eval $id contamination_bp")
      val shared = train.map { case (tid, ts) => tid -> (mySh & ts).size }
        .filter(_._2 > 0)
      if (shared.isEmpty) {
        assert(r.getLong(4) == -1L && r.getLong(5) == 0L, s"eval $id clean")
      } else {
        val best = shared.minBy { case (tid, n) => (-n, tid) }
        assert(r.getLong(4) == best._1 && r.getLong(5) == best._2.toLong,
          s"eval $id worst doc")
      }
    }
    // The audit must be non-trivial on this corpus: some contamination
    // exists (the synthetic corpus plants near-duplicates).
    assert(out.exists(_.getLong(2) > 0), "expected at least one leaked eval item")
  }

  test("contamination spans report the first overlapping shingle's token offset") {
    import spark.implicits._
    // Eval doc 97 contributes shingles of "the quick brown fox". Train
    // doc 1 copies it starting at token offset 3 (after "aa bb cc");
    // doc 2 copies it twice — first at offset 0 — min must win; doc 3 is
    // clean. n_overlap counts DISTINCT shared shingles (x17 parity), so
    // doc 2's repeated copy doesn't double-count.
    val corpus = Seq(
      (97L, "the quick brown fox"),
      (1L, "aa bb cc the quick brown fox dd"),
      (2L, "the quick brown fox zz the quick brown fox"),
      (3L, "nothing shared with held out text")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("spans").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.decontaminationSpans(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // "the quick brown fox" has 2 trigram shingles.
    assert(out(1L) == ((2L, 3L)), s"doc 1 contaminated from offset 3: $out")
    assert(out(2L) == ((2L, 0L)), s"doc 2: distinct shingles, min offset 0: $out")
    assert(!out.contains(3L) && !out.contains(97L), s"clean/eval docs absent: $out")
  }

  test("repetition ratio separates boilerplate from varied text") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "each word here appears exactly once today")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("rep").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.repetitionRatio(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(1L) > 0.5, s"pure repetition must score high: $out")
    assert(out(2L) == 0.0, s"all-distinct shingles must score zero: $out")
  }

  test("x25 pipeline: survivor guarantees and idempotence") {
    graft.functions.GraftFunctions.register(spark)
    val d = Tables.t(spark, "/root/testdata/sf0.01", "documents")
    val train = d.filter(col("doc_id") % 97 =!= 0)
    val evalDocs = d.filter(col("doc_id") % 97 === 0)
    val out = Curation.curate(train, evalDocs)
    val survivors = out.collect().map(_.getLong(0)).toSet
    assert(survivors.nonEmpty && survivors.size < train.count(),
      s"pipeline must admit a strict subset, got ${survivors.size}")
    val survived = train.filter(col("doc_id").isInCollection(survivors))
    // 1. No duplicate texts.
    assert(survived.select("text").distinct().count() == survivors.size)
    // 2. No surviving pair with true Jaccard >= 0.8 (brute force).
    val sets = survived.select(col("doc_id"),
      array_sort(array_distinct(split(col("text"), " "))).as("k"))
    val nearDups = sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        call_function("set_jaccard", col("a.k"), col("b.k")) >= 0.8)
      .count()
    assert(nearDups == 0, s"$nearDups near-dup pairs survived canonicalization")
    // 3. No email PII.
    assert(survived.filter(col("text").rlike(
      "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+")).count() == 0)
    // 4. No eval-shingle overlap.
    assert(Curation.contaminationCounts(survived, evalDocs).count() == 0)
    // 5. Idempotence: every stage removes all violations of its own
    // invariant, so a second pass is the identity.
    val twice = Curation.curate(survived, evalDocs).collect().map(_.getLong(0)).toSet
    assert(twice == survivors, "curate(curate(X)) must equal curate(X)")
  }

  test("x48 surgical decontamination masks exactly the eval-covered spans") {
    import org.apache.spark.sql.SparkSession
    val s: SparkSession = spark
    import s.implicits._
    val evalDocs = Seq((100L, "quick brown fox jumps over lazy dog")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "aa bb quick brown fox jumps over lazy dog cc dd"),
      (2L, "completely clean text with nothing shared here")).toDF("doc_id", "text")
    val out = Curation.deconStrip(train, evalDocs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((11L, 7L, "aa bb cc dd")),
      s"the quoted benchmark passage must be cut, the surrounding text kept: ${out(1L)}")
    assert(out(2L) == ((7L, 0L, "completely clean text with nothing shared here")),
      s"clean doc must pass untouched: ${out(2L)}")
    // Real-corpus residue audit: one pass removes every ORIGINAL eval
    // shingle but reassembly stitches cut edges, and on this
    // dense-vocabulary corpus stitched 3-grams DO coincide with eval
    // shingles (6 residue docs at sf0.01) — strictly fewer than the
    // untreated contamination, and the FIXPOINT form drives it to zero.
    val d = Tables.t(spark, "/root/testdata/sf0.01", "documents")
    val tr = d.filter(col("doc_id") % 97 =!= 0)
    val ev = d.filter(col("doc_id") % 97 === 0)
    val stripped = Curation.deconStrip(tr, ev)
    assert(stripped.agg(sum("n_masked")).head().getLong(0) > 0,
      "the strip must remove real mass on the registered slices")
    val before = Curation.contaminationCounts(tr, ev).count()
    val residue = Curation.contaminationCounts(
      stripped.select(col("doc_id"), col("clean_text").as("text")), ev).count()
    assert(residue < before,
      s"one pass must strictly reduce contamination: $residue vs $before")
    val fixed = Curation.deconStripFixpoint(tr, ev)
    val residueFixed = Curation.contaminationCounts(
      fixed.select(col("doc_id"), col("clean_text").as("text")), ev).count()
    assert(residueFixed == 0,
      s"the fixpoint must leave zero contamination, got $residueFixed")
    assert(fixed.count() == tr.count(), "every doc keeps its audit row")
    // Originally-empty text must audit as (0 tokens, 0 masked) — both
    // sides of the audit use the same empty-string convention; counting
    // split("", " ") = [""] as 1 token on the original side only would
    // report n_masked=1 though nothing was masked.
    val withEmpty = Seq((900001L, ""), (900002L, "untouched words here"))
      .toDF("doc_id", "text")
    val audited = Curation.deconStripFixpoint(withEmpty, ev)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(audited(900001L) == ((0L, 0L)),
      s"empty doc must audit 0 tokens / 0 masked: ${audited(900001L)}")
  }

  test("reliable checkpoint mode: the loop-heavy graph family reproduces its local-mode output") {
    // k-core (10 fixed peels, one stable() per peel) and radius-3
    // harmonic (BFS frontier checkpoints) are the heaviest multi-
    // checkpoint loops in the repo; curateV2's reliable-mode gate alone
    // does not prove the toggle holds for them. Pins output identity
    // under `reliable` and that files actually landed.
    import spark.implicits._
    val nodes = (Seq(1L, 2L, 3L, 4L, 5L, 6L, 20L)).toDF("doc_id")
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("da", "db")
    val localK = Curation.kcoreFromPairs(nodes, pairs, k = 3, peels = 10).collect().toSeq
    val localH = Curation.harmonicFromPairs(nodes, pairs).collect().toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_graph").toString
    try {
      spark.conf.set(Checkpoints.ModeKey, "reliable")
      spark.conf.set(Checkpoints.DirKey, dir)
      val relK = Curation.kcoreFromPairs(nodes, pairs, k = 3, peels = 10).collect().toSeq
      val relH = Curation.harmonicFromPairs(nodes, pairs).collect().toSeq
      assert(relK == localK, "reliable-mode k-core must reproduce local-mode output")
      assert(relH == localH, "reliable-mode harmonic must reproduce local-mode output")
      val landed = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(landed > 0, s"no checkpoint files under $dir — the reliable path did not engage")
    } finally {
      spark.conf.set(Checkpoints.ModeKey, "local")
      spark.conf.unset(Checkpoints.DirKey)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("reliable checkpoint mode: curateV2 output is identical and files land in the dir") {
    // The composed pipelines default to localCheckpoint (fast, executor-
    // local) — but executor loss kills a local-checkpointed job because
    // lineage is truncated. The reliable mode re-roots every stable()
    // site on the Spark checkpoint directory so a cluster run survives
    // churn; this pins (a) byte-identical output and (b) that checkpoint
    // files actually land in the configured dir (the mode really ran).
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val d = Tables.t(spark, sf, "documents")
    val emb = Tables.t(spark, sf, "embeddings")
    val train = d.filter(col("doc_id") % 97 =!= 0)
    val evalDocs = d.filter(col("doc_id") % 97 === 0)
    val evalVecs = emb.filter(col("vec_id") % 97 === 0)
    val local = Curation.curateV2(train, evalDocs, emb, evalVecs).collect().toSeq
    try {
      spark.conf.set(Checkpoints.ModeKey, "reliable")
      spark.conf.set(Checkpoints.DirKey, dir)
      val reliable = Curation.curateV2(train, evalDocs, emb, evalVecs).collect().toSeq
      assert(reliable == local, "reliable-checkpoint run must reproduce the local-mode output")
      val landed = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(landed > 0, s"no checkpoint files under $dir — the reliable path did not engage")
      // Reconfiguring the directory mid-session must take effect — the
      // sc checkpoint dir cannot be string-compared against the conf
      // (Spark appends a UUID subdir), so Checkpoints tracks what it
      // applied; without that a changed DirKey would be silently ignored.
      val dir2 = java.nio.file.Files.createTempDirectory("graft_ckpt2").toString
      try {
        spark.conf.set(Checkpoints.DirKey, dir2)
        Curation.gateAndDedup(train)
        val landed2 = java.nio.file.Files.walk(java.nio.file.Paths.get(dir2))
          .filter(java.nio.file.Files.isRegularFile(_)).count()
        assert(landed2 > 0, s"reconfigured $dir2 must receive the new checkpoints")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
      // Unknown mode must fail loudly, not silently fall back to local.
      spark.conf.set(Checkpoints.ModeKey, "bogus")
      intercept[IllegalArgumentException] {
        Curation.gateAndDedup(train)
      }
    } finally {
      spark.conf.set(Checkpoints.ModeKey, "local")
      spark.conf.unset(Checkpoints.DirKey)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("iterated checkpoint statistics stay bounded (sf1 planner blow-up gate)") {
    import spark.implicits._
    // A 64-node chain forces several propagation rounds; each round
    // joins the previous round's checkpoint twice, so WITHOUT pinned
    // stats the size-only join estimate squares per round (digit count
    // doubles — the sf1 probe hung the driver in BigInteger.multiply
    // inside planning). The pinned invariant: the returned label map's
    // sizeInBytes never exceeds the unknown-leaf convention.
    val pairs = (1L to 64L).sliding(2).map(s => (s.head, s(1))).toSeq
      .toDF("da", "db")
    val (labels, rounds) =
      Curation.propagateMinLabels(Curation.undirectedEdges(pairs),
        driverEdgeBudget = 0L)
    assert(rounds >= 3, s"chain must take several rounds, took $rounds")
    val size = org.apache.spark.sql.execution.GraftCheckpointStats
      .statsSizeOf(labels)
    assert(size <= BigInt(Long.MaxValue),
      s"iterated checkpoint stats must stay pinned/bounded, got $size")
    assert(labels.select(countDistinct(col("lbl"))).head.getLong(0) == 1L,
      "the chain is one component")
  }

  test("x46b incremental curateV2 equals the full recompute, incl. the EVICTION corner") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // A batch doc with the SAME sha as a standing keeper but a SMALLER
    // id evicts it from the union's exact-dedup tier — the one corner
    // the registered %-slice may never exercise. The evicted keeper (4)
    // must keep bridging its old cluster as a phantom pair node while
    // never reaching the output.
    val stop = "the a of and to in"
    val tDup = s"$stop d1 d2 d3 d4"
    def doc(id: Long, text: String) = (id, text, "en", "src1")
    val old = Seq(
      doc(4L, tDup),                    // standing keeper, evicted by 3
      doc(6L, tDup),                    // lost old sha-dedup to 4
      doc(8L, s"$stop d1 d2 d3 d5"),    // J = 9/11 with tDup → old cluster {4,8}
      doc(12L, s"$stop u1 u2 u3 u4"))   // old singleton, semantic pair with 7
      .toDF("doc_id", "text", "lang", "source")
    val batch = Seq(
      doc(3L, tDup),                    // evicts 4 (3 < 4, same sha)
      doc(5L, s"$stop d1 d2 d3 d6"),    // joins the {3,8} cluster
      doc(7L, s"$stop f1 f2 f3 f4"),    // fresh; wins the semantic pair vs 12
      doc(9L, s"$stop s1 s2 s3 s4"),    // semantic decon target
      doc(11L, s"$stop q1 q2 q3 q4"))   // n-gram decon target
      .toDF("doc_id", "text", "lang", "source")
    val evalDocs = Seq(doc(99L, "q1 q2 q3 leak check words"))
      .toDF("doc_id", "text", "lang", "source")
    val emb = Seq(
      (7L, Array(1.0f, 0.0f)),          // scaled copies share all LSH buckets
      (12L, Array(2.0f, 0.0f)),
      (9L, Array(0.0f, 3.0f)))          // colinear with the eval vector
      .toDF("vec_id", "embedding")
    val evalVecs = Seq((900L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    // Standing artifacts, by the production recipe.
    val oldAdmitted = old.filter(graft.streaming.IngestGate.cleanCond)
    val keep = oldAdmitted.groupBy(sha2(col("text"), 256).as("sha"))
      .agg(min("doc_id").as("doc_id"))
    val oldDed = oldAdmitted.join(keep, Seq("doc_id"))
      .select(col("doc_id"), col("sha"), col("text"), col("lang"),
        col("source"), TextStats.qualityColumn.as("quality"))
    val oldLex = Curation.propagateMinLabels(Curation.undirectedEdges(
      Dedup.jaccardPairsPrefixOn(oldDed, 0.8, ordered = false)
        .select(col("da"), col("db"))))._1
    val oldEmb = emb.filter(col("vec_id") === 12L)
    val newEmb = emb.filter(col("vec_id") =!= 12L)
    val oldSemEdges = Similarity.embeddingNearDupsLshOn(oldEmb, 0.3)
      .select(col("va").as("da"), col("vb").as("db"))
    val incr = Curation.curateV2FromIndexes(batch, oldDed, oldLex,
      newEmb, oldEmb, oldSemEdges, evalDocs, emb, evalVecs)
      .collect().toSeq
    val full = Curation.curateV2(old.union(batch), evalDocs, emb, evalVecs)
      .collect().toSeq
    assert(incr == full, s"incremental ≡ full recompute:\nincr=$incr\nfull=$full")
    val ids = incr.map(_.getLong(0))
    assert(ids == Seq(3L, 7L),
      s"3 evicts 4 and wins its cluster; 7 wins the semantic pair; " +
        s"9/11 deconned; 12 loses keep-best: $ids")
    // The strip tier did real work on the shared stopword prefix.
    assert(incr.forall(_.getAs[Long]("n_masked") == 6L),
      s"the 6-token shared prefix must be masked in every survivor: $incr")
  }

  test("x46 curation v2: survivor guarantees across every tier, and idempotence") {
    graft.functions.GraftFunctions.register(spark)
    val dir = "/root/testdata/sf0.01"
    val d = Tables.t(spark, dir, "documents")
    val emb = Tables.t(spark, dir, "embeddings")
    val train = d.filter(col("doc_id") % 97 =!= 0)
    val evalDocs = d.filter(col("doc_id") % 97 === 0)
    val evalVecs = emb.filter(col("vec_id") % 97 === 0)
    val outDf = Curation.curateV2(train, evalDocs, emb, evalVecs)
    val out = outDf.collect()
    val ids = out.map(_.getLong(0)).toSet
    assert(ids.nonEmpty && ids.size < train.count(),
      s"pipeline must admit a strict subset, got ${ids.size}")
    // Every tier leaves a visible fingerprint: the strip tier must have
    // masked real mass in the surviving manifest (vacuous stages are
    // untested stages).
    assert(out.exists(_.getLong(5) > 0), "no survivor carries masked mass")
    val survived = train.filter(col("doc_id").isInCollection(ids))
    // 1. Gate: no email PII, no sub-floor quality.
    assert(survived.filter(col("text").rlike(
      "(?i)[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+")).count() == 0)
    assert(survived.filter(
      TextStats.qualityColumn < graft.streaming.IngestGate.MinQuality).count() == 0)
    // 2. Exact dedup: no duplicate original texts.
    assert(survived.select("text").distinct().count() == ids.size)
    // 3. Lexical tier: no surviving pair with true Jaccard >= 0.8 —
    // BRUTE FORCE (valid because the prefix filter is lossless).
    val sets = survived.select(col("doc_id"),
      array_sort(array_distinct(split(col("text"), " "))).as("k"))
    assert(sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        call_function("set_jaccard", col("a.k"), col("b.k")) >= 0.8)
      .count() == 0, "lexical near-dup pair survived")
    // 4. Semantic tier: no surviving pair in the SAME pair graph the
    // pipeline clusters (the x09 buckets at 0.3; brute force would also
    // count pairs the 2x16 buckets cannot see at this cosine regime —
    // that recall boundary is x09's documented contract, not x46's).
    val se = emb.join(outDf.select(col("doc_id").as("vec_id")), "vec_id")
    assert(Similarity.embeddingNearDupsLshOn(se, 0.3).count() == 0,
      "semantic near-dup pair survived")
    // 5. Decon: the CLEAN text shares no 3-shingle with the eval docs...
    val cleanDf = outDf.select(col("doc_id"), col("clean_text").as("text"))
    assert(Curation.contaminationCounts(cleanDf, evalDocs).count() == 0,
      "clean text still contaminated")
    // 6. ...and no surviving embedding reaches an eval vector at 0.3.
    assert(Similarity.semanticDecon(se, evalVecs, 0.3)
      .filter(col("contaminated")).count() == 0, "semantic contamination survived")
    // 7. Idempotence, stated EXACTLY: re-curating the curated corpus
    // (clean text as the text) is the identity on every tier EXCEPT the
    // gate's re-score of rewritten text — the strip tier changed some
    // docs' tokens, and quality is a function of the tokens, so a doc
    // whose masked run carried its stopword mass can fall below the
    // floor on re-ingestion (x25's unqualified idempotence holds there
    // because no x25 stage rewrites text). The second pass must diverge
    // by exactly that re-gate set and nothing else: dedup/strip/decon
    // find nothing new (asserted via the empty second-pass mask and the
    // set equality — a cascade through pair graphs or hot sets would
    // break it). A third pass is then the identity by construction:
    // pass 2 re-gated these same texts and rewrote none of them.
    val cleanCorpus = outDf.select(col("doc_id"),
      col("clean_text").as("text"), col("lang"), col("source"))
    val again = Curation.curateV2(cleanCorpus, evalDocs, emb, evalVecs).collect()
    val regateDrops = cleanCorpus.filter(
      TextStats.qualityColumn < graft.streaming.IngestGate.MinQuality)
      .collect().map(_.getLong(0)).toSet
    assert(again.map(_.getLong(0)).toSet == ids -- regateDrops,
      s"second pass must differ from the first ONLY by the re-gate set $regateDrops")
    assert(again.forall(_.getLong(5) == 0L),
      "second pass must find nothing left to mask")
  }

  test("leakage-safe split: whole clusters land in one split, all docs covered") {
    val rows = Curation.leakageSafeSplit(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val sliceCount = Tables.t(spark, sf, "documents")
      .filter(col("doc_id") % 29 === 0).count()
    assert(rows.length == sliceCount, "every slice doc gets exactly one split row")
    assert(rows.map(_._1).distinct.length == rows.length)
    // The leakage invariant: one split per cluster.
    rows.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $cid straddles splits: ${members.toSeq}")
    }
  }

  test("precomputed pair graph: dedupClustersFromPairs / leakageSafeSplitFromPairs / curate(precomputedPairs) equal standalone") {
    val pairs = Dedup.jaccardPairs(spark, sf).select(col("da"), col("db")).persist()
    try {
      val standalone16 = Curation.dedupClusters(spark, sf).collect().toSeq
      val shared16 = Curation.dedupClustersFromPairs(pairs).collect().toSeq
      assert(shared16 == standalone16, "x16 from shared pairs must be identical")
      val base = Tables.t(spark, sf, "documents").filter(col("doc_id") % 29 === 0)
      val standalone27 = Curation.leakageSafeSplit(spark, sf).collect().toSeq
      val shared27 = Curation.leakageSafeSplitFromPairs(base, pairs).collect().toSeq
      assert(shared27 == standalone27, "x27 from shared pairs must be identical")
    } finally pairs.unpersist()
    // curate: the documented session flow — gate+dedup ONCE, pairs over
    // that frame, then curateDeduped (curate itself would re-run the
    // gate and checkpoint a second identical frame).
    val d = Tables.t(spark, sf, "documents")
    val train = d.filter(col("doc_id") % 97 =!= 0)
    val evalDocs = d.filter(col("doc_id") % 97 === 0)
    val ded = Curation.gateAndDedup(train)
    val dedupedPairs = Dedup.jaccardPairsPrefixOn(ded, 0.8)
      .select(col("da"), col("db")).persist()
    try {
      val standalone = Curation.curate(train, evalDocs).collect().toSeq
      val shared = Curation.curateDeduped(ded, evalDocs,
        precomputedPairs = Some(dedupedPairs)).collect().toSeq
      assert(shared == standalone, "curateDeduped with precomputed pairs must be identical")
    } finally dedupedPairs.unpersist()
  }

  test("line dedup strips planted boilerplate lines, keeps unique content in order") {
    import spark.implicits._
    // Five docs share a header and footer line (df=5 > maxDf=3); bodies
    // are unique. Doc 99 is ONLY boilerplate — it must survive as a row
    // with empty clean_text, preserving corpus row count (the left-join +
    // coalesce path). This exercises the production '\n' line splitter
    // the registered x30 can't (the synthetic corpus is single-line).
    val header = "COPYRIGHT 2026 ACME CORP"
    val footer = "unsubscribe at example dot com"
    val corpus = (1L to 5L).map(i =>
      (i, s"$header\nbody line unique to doc $i\nsecond body $i\n$footer")) :+
      (99L, s"$header\n$footer")
    val df = corpus.toDF("doc_id", "text")
    val out = Curation.lineDedupOn(df, split(col("text"), "\n"), maxDf = 3, sep = "\n")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out.keySet == (1L to 5L).toSet + 99L, "every doc keeps its stats row")
    (1L to 5L).foreach { i =>
      val (nLines, nKept, nRemoved, clean) = out(i)
      assert((nLines, nKept, nRemoved) == ((4L, 2L, 2L)), s"doc $i: ${out(i)}")
      assert(clean == s"body line unique to doc $i\nsecond body $i",
        s"surviving lines must keep doc order: $clean")
    }
    assert(out(99L) == ((2L, 0L, 2L, "")), s"all-boilerplate doc: ${out(99L)}")
    // Below-threshold repetition is NOT stripped: df=3 == maxDf stays.
    // Doc 5's null text must audit as (0, 0, 0, ""), not size(null)=-1.
    val mild = ((1L to 3L).map(i => (i, s"shared thrice\nunique $i")) :+
      (4L, "solo content") :+ (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out2 = Curation.lineDedupOn(mild, split(col("text"), "\n"), maxDf = 3, sep = "\n")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out2(1L)._4 == "shared thrice\nunique 1", s"df == maxDf must survive: $out2")
    assert(out2(5L) == ((0L, 0L, 0L, "")), s"null text audits as zero mass: ${out2(5L)}")
  }

  test("curateDeduped keepBy keeps the best near-dup per cluster; same survivor count") {
    import spark.implicits._
    // Docs 1/2 are near-dups (J = 19/21 ≈ 0.905 ≥ 0.8); doc 2 has the
    // higher quality (extra stopwords, no digits). Default keeps min id
    // 1; keepBy(quality) must keep 2 instead. Doc 9 is unrelated.
    val base = Seq(
      (1L, ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lmb mu nu xi omicron pi rho sigma tau 99")),
      (2L, ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lmb mu nu xi omicron pi rho sigma tau the")),
      (9L, "completely unrelated text lives here quietly")).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val evalDocs = Seq((100L, "held out benchmark sentence nothing shared"))
      .toDF("doc_id", "text")
    val byId = Curation.curateDeduped(base, evalDocs)
      .collect().map(_.getLong(0)).toSet
    val byQ = Curation.curateDeduped(base, evalDocs,
      keepBy = Some(TextStats.qualityColumn))
      .collect().map(_.getLong(0)).toSet
    assert(byId == Set(1L, 9L), s"default keeps min id: $byId")
    assert(byQ == Set(2L, 9L), s"keepBy must keep the higher-quality near-dup: $byQ")
    assert(byId.size == byQ.size, "one survivor per cluster either way")
  }

  test("x37 keeps the argmax-quality doc per cluster, ties to the smaller id") {
    import spark.implicits._
    // Cluster {1,2,3} via pairs (1,2),(2,3): min id is 1 but the quality
    // argmax is the 0.9 TIE between 2 and 3 → keeper must be 2 (smaller
    // id breaks the tie), proving selection is NOT x16's min-id rule.
    // Doc 7 is a singleton: its own cluster, keeps itself.
    val base = Seq((1L, 0.2), (2L, 0.9), (3L, 0.9), (7L, 0.5)).toDF("doc_id", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("da", "db")
    val out = Curation.dedupClustersKeepBy(base, pairs, col("q")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep")))).toMap
    assert(out(1L) == ((1L, false)) && out(2L) == ((1L, true)) && out(3L) == ((1L, false)),
      s"cluster {1,2,3} must keep argmax-quality doc 2, not min-id 1: $out")
    assert(out(7L) == ((7L, true)), s"singleton keeps itself: $out")
    out.toSeq.groupBy(_._2._1).foreach { case (cid, members) =>
      assert(members.count(_._2._2) == 1, s"cluster $cid keepers != 1: $members")
    }
  }

  test("x30b: newline variant strips the planted header/footer boilerplate") {
    // Every derived doc carries a per-source header and per-lang footer;
    // with ~20 sources / ~5 langs over hundreds of docs both lines are
    // hot (df > 3), so every doc must lose at least those two lines, and
    // no surviving clean_text may still carry them.
    val docs = graft.Tables.t(spark, sf, "documents")
    val out = Curation.lineDedupNewline(spark, sf)
    assert(out.count() == docs.count())
    assert(out.agg(min("n_removed")).head().getLong(0) >= 2L)
    assert(out.filter(col("clean_text").contains("src: ") ||
      col("clean_text").contains("lang: ")).count() == 0L)
    // Reassembly keeps real newlines between surviving lines.
    assert(out.filter(col("n_kept") > 1 && !col("clean_text").contains("\n"))
      .count() == 0L)
  }

  test("registered x30 span form audits null text as zero mass, no phantom spans") {
    import spark.implicits._
    // The registered lineDedup builds spans via transform(sequence(...)):
    // without its null guard, size(null) = -1 makes sequence(0, -1) yield
    // [0, -1] — TWO phantom "" spans, so a null-text doc would report
    // n_lines = 2 and the "" span would enter the hot-set df. Guarded,
    // it must audit (0, 0, 0, "") like lineDedupOn's documented path.
    val corpus = ((1L to 4L).map(i => (i, s"common span here unique$i tail words")) :+
      (9L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("x30null").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.lineDedup(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(9L) == ((0L, 0L, 0L, "")), s"null text audits as zero mass: ${out(9L)}")
    // The hot 3-token span (df=4 > 3) is stripped from the non-null docs;
    // each 6-token doc splits into 2 spans, keeps its unique second one.
    (1L to 4L).foreach { i =>
      assert(out(i) == ((2L, 1L, 1L, s"unique$i tail words")), s"doc $i: ${out(i)}")
    }
  }

  test("span dedup masks a duplicated passage wherever it starts, token-granular") {
    import spark.implicits._
    // A 4-token passage planted in 5 docs at DIFFERENT offsets (x30's
    // fixed spans would miss the shifted copies); its two sliding
    // trigrams are hot (df=5 > 3) and their coverage union masks all 4
    // passage tokens, nothing else. Doc 50 shares no passage; doc 51 is
    // 2 tokens (< shingle) and can never be masked.
    val passage = "alpha beta gamma delta"
    val corpus = (1L to 5L).map(i =>
      (i, (Seq.fill(i.toInt)("u" + i) :+ passage).mkString(" ") + s" tail$i")) :+
      (50L, "entirely unrelated words live here") :+
      (51L, "tiny doc") :+
      (52L, null.asInstanceOf[String])
    val dir = java.nio.file.Files.createTempDirectory("span").toString
    corpus.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.spanDedup(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    (1L to 5L).foreach { i =>
      val (nTok, nMasked, clean) = out(i)
      assert(nMasked == 4L, s"doc $i: exactly the passage masked: ${out(i)}")
      assert(clean == (Seq.fill(i.toInt)("u" + i) :+ s"tail$i").mkString(" "),
        s"doc $i: unique prefix+tail survive in order: $clean")
      assert(nTok == i + 5L, s"doc $i token count: ${out(i)}")
    }
    assert(out(50L) == ((5L, 0L, "entirely unrelated words live here")), s"${out(50L)}")
    assert(out(51L) == ((2L, 0L, "tiny doc")), s"${out(51L)}")
    assert(out(52L) == ((0L, 0L, "")), s"null text audits as zero mass: ${out(52L)}")
  }

  test("minRun span masking keeps short accidental overlaps, masks the long passage") {
    import spark.implicits._
    // Five docs share BOTH a 7-token passage (covered run = 7) and an
    // isolated common phrase "in the end" (its one hot trigram covers a
    // 3-token run — x34 would shred it out of fluent text). minRun = 5
    // must mask only the passage. Unique neighbor tokens per doc keep
    // the boundary trigrams cold.
    val passage = "alpha beta gamma delta epsilon zeta eta"
    val corpus = (1L to 5L).map { i =>
      (i, s"a$i in the end b$i $passage c$i")
    }.toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("minrun").toString
    corpus.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Curation.spanDedupMinRun(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    (1L to 5L).foreach { i =>
      val (nTok, nMasked, clean) = out(i)
      assert(nTok == 13L, s"doc $i: ${out(i)}")
      assert(nMasked == 7L, s"doc $i: exactly the long passage masked: ${out(i)}")
      assert(clean == s"a$i in the end b$i c$i",
        s"doc $i: the common phrase must survive minRun: $clean")
    }
    // Sanity: plain x34 (minRun = 1) masks the phrase too — 10 tokens.
    val strict = Curation.spanDedupOn(corpus, shingleLen = 3, maxDf = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    (1L to 5L).foreach { i =>
      assert(strict(i) == 10L, s"doc $i: x34 masks phrase + passage: ${strict(i)}")
    }
  }

  test("novelty score separates fresh material from already-covered content") {
    import spark.implicits._
    // Ref corpus covers one passage. Candidate 1 IS that passage (novelty
    // 0); candidate 2 is half passage, half new (intermediate); candidate
    // 3 is all new (novelty 1); candidate 4 is 2 tokens (no shingles —
    // (0, 0, NULL) audit row).
    val ref = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val cand = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "quick brown fox entirely fresh words here"),
      (3L, "completely novel material nothing shared at all"),
      (4L, "too short")).toDF("doc_id", "text")
    val out = Curation.noveltyScore(cand, ref).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(1L) == ((3L, 0L, Some(0.0))), s"fully covered doc: ${out(1L)}")
    assert(out(3L)._2 == out(3L)._1 && out(3L)._3 == Some(1.0),
      s"all-new doc scores 1.0: ${out(3L)}")
    assert(out(2L)._3.get > 0.0 && out(2L)._3.get < 1.0,
      s"half-covered doc scores strictly between: ${out(2L)}")
    assert(out(4L) == ((0L, 0L, None)), s"sub-shingle doc audits (0,0,NULL): ${out(4L)}")
  }

  test("intra-doc dedup keeps first occurrences in order, ignores cross-doc heat") {
    import spark.implicits._
    // Doc 1 repeats its own catchphrase three times (df = 1, so x30 would
    // pass it untouched); only the first copy survives, in place. Doc 2
    // shares that line too — CROSS-doc repetition must NOT trigger
    // removal here (each doc keeps its own first occurrence). Doc 3 has
    // no repeats; doc 4 is null text.
    val corpus = Seq(
      (1L, "buy cheap pills\nreal content here\nbuy cheap pills\nbuy cheap pills"),
      (2L, "buy cheap pills\nother text entirely"),
      (3L, "plain unique document"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = Curation.intraDocDedupOn(corpus, split(col("text"), "\n"), sep = "\n")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((4L, 2L, 2L, "buy cheap pills\nreal content here")),
      s"only the first copy of the repeated line survives, in order: ${out(1L)}")
    assert(out(2L) == ((2L, 2L, 0L, "buy cheap pills\nother text entirely")),
      s"cross-doc repetition must not strip within-doc uniques: ${out(2L)}")
    assert(out(3L) == ((1L, 1L, 0L, "plain unique document")), s"${out(3L)}")
    assert(out(4L) == ((0L, 0L, 0L, "")), s"null text audits as zero mass: ${out(4L)}")
  }

  test("content chunks are content-defined: a local edit shifts one chunk only") {
    import spark.implicits._
    // Deterministic boundary tokens via the x03b polynomial hash: find
    // two words whose hash lands in the boundary class, build a doc
    // around them, then INSERT a token early and check only the chunk
    // containing the edit changes its text — later chunks are identical
    // (the CDC property fixed-size chunking lacks).
    def h(tok: String): Long =
      tok.foldLeft(0L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
    val words = (1 to 200).map(i => s"w$i")
    val boundary = words.filter(h(_) % Curation.BoundaryMod == 0)
    assert(boundary.size >= 2, s"fixture needs 2 boundary words, got $boundary")
    val (b1, b2) = (boundary(0), boundary(1))
    val plain = words.filterNot(w => h(w) % Curation.BoundaryMod == 0)
    // prefix | b1 mid | b2 tail  → 3 chunks
    val doc0 = Seq(plain(0), plain(1), b1, plain(2), b2, plain(3), plain(4))
    val doc1 = Seq(plain(0), plain(5), plain(1), b1, plain(2), b2, plain(3), plain(4))
    val corpus = Seq((0L, doc0.mkString(" ")), (1L, doc1.mkString(" "))).toDF("doc_id", "text")
    val chunks = Curation.contentChunks(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getString(4)).toMap
    assert(chunks((0L, 0L)) == s"${plain(0)} ${plain(1)}", s"$chunks")
    assert(chunks((0L, 1L)) == s"$b1 ${plain(2)}",
      s"boundary token must START its chunk: $chunks")
    assert(chunks((0L, 2L)) == s"$b2 ${plain(3)} ${plain(4)}", s"$chunks")
    // The insertion lands in chunk 0; chunks 1 and 2 are byte-identical.
    assert(chunks((1L, 0L)) == s"${plain(0)} ${plain(5)} ${plain(1)}",
      s"edit stays local to its chunk: $chunks")
    assert(chunks((1L, 1L)) == chunks((0L, 1L)) && chunks((1L, 2L)) == chunks((0L, 2L)),
      s"chunks after the edit point must be stable: $chunks")
  }

  test("x54: planted doc windows exactly; non-overlap stride reassembles every doc") {
    import spark.implicits._
    // 7 tokens, winLen=4, stride=2 → offsets 0/2/4/6 with a short tail.
    val planted = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val rows = Curation.contextWindowsOf(planted, 4, 2).collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))).toSeq
    assert(rows == Seq(
      (0, 0, 4, "a b c d"), (1, 2, 4, "c d e f"),
      (2, 4, 3, "e f g"), (3, 6, 1, "g")), s"$rows")
    // stride = winLen partitions each doc: concatenating a doc's windows
    // in win_id order must rebuild its text byte-for-byte, corpus-wide.
    val docs = graft.Tables.t(spark, sf, "documents").select("doc_id", "text")
    // collect_list order is not guaranteed — sort the (win_id, text)
    // structs before concatenating.
    val rebuilt = Curation.contextWindowsOf(docs, Curation.WinLen, Curation.WinLen)
      .groupBy("doc_id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("win_id"), col("win_text")))),
          s => s.getField("win_text"))).as("rebuilt"))
    val mismatches = docs.join(rebuilt, "doc_id")
      .filter(col("text") =!= col("rebuilt")).count()
    assert(mismatches == 0, s"$mismatches docs fail lossless reassembly")
  }

  test("tfidf ranks a document's most frequent distinctive term first") {
    val top = Curation.tfidfTop(spark, sf)
      .filter(col("rk") === 1).collect()
    assert(top.nonEmpty)
    top.foreach { r =>
      assert(r.getLong(3) >= 1, "rank-1 term must have tf >= 1")
    }
    // rank-1 row per doc is unique
    val perDoc = top.groupBy(_.getLong(0)).map(_._2.length)
    assert(perDoc.forall(_ == 1))
  }

  test("x60: integer PageRank on a planted star graph — hand-computed masses") {
    import spark.implicits._
    // Star: hub 1 — leaves 2,3,4; node 5 isolated. Five iterations of
    // r' = 150000 + Σ floor(r·85 / (deg·100)), computed by hand.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("da", "db")
    val out = Curation.pagerankFromPairs(nodes, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (2326644L, 3L), s"hub: ${out(1L)}")
    for (leaf <- Seq(2L, 3L, 4L))
      assert(out(leaf) == (557783L, 1L), s"leaf $leaf: ${out(leaf)}")
    assert(out(5L) == (150000L, 0L), s"isolated keeps teleport mass only: ${out(5L)}")
    // Centrality orders hub above leaves above isolated.
    assert(out(1L)._1 > out(2L)._1 && out(2L)._1 > out(5L)._1)
  }

  test("x60b: exactly one keep per cluster and it is the rank-mass argmax") {
    val rows = Curation.pagerankKeepBest(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(1)).foreach { case (cid, rs) =>
      val keeps = rs.filter(_.getBoolean(3))
      assert(keeps.length == 1, s"cluster $cid keeps ${keeps.length}")
      val best = rs.maxBy(r => (r.getLong(2), -r.getLong(0)))
      assert(keeps.head.getLong(0) == best.getLong(0),
        s"cluster $cid kept ${keeps.head.getLong(0)} but argmax is ${best.getLong(0)}")
    }
  }

  test("x61: triangle counts and clustering coefficients on a planted diamond") {
    import spark.implicits._
    // K4 minus edge (1,4): triangles (1,2,3) and (2,3,4). Node 5 isolated.
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    val out = Curation.triangleStatsFromPairs(nodes, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) == (2L, 1L, 1.0))
    assert(out(2L) == (3L, 2L, 0.6667))
    assert(out(3L) == (3L, 2L, 0.6667))
    assert(out(4L) == (2L, 1L, 1.0))
    assert(out(5L) == (0L, 0L, 0.0))
  }

  test("x61: defensive canonicalization — dup pairs, both orientations, self-loops") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val clean = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L)).toDF("a", "b")
    // Same graph delivered dirty: duplicated pairs, reversed orientations
    // and a self-loop must not inflate degrees or triangle counts.
    val dirty = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (3L, 2L), (2L, 3L),
      (2L, 4L), (3L, 4L), (4L, 3L), (5L, 5L)).toDF("a", "b")
    val want = Curation.triangleStatsFromPairs(nodes, clean).collect().toSet
    val got = Curation.triangleStatsFromPairs(nodes, dirty).collect().toSet
    assert(got == want)
  }

  test("x62: 3-core peeling keeps the K4 kernel and sheds the tail chain") {
    import spark.implicits._
    // K4 on {1,2,3,4} plus tail 4-5-6: the tail peels in one round
    // (degree < 3 at both tail nodes), the clique survives at degree 3.
    val nodes = (Seq(1L, 2L, 3L, 4L, 5L, 6L, 20L)).toDF("doc_id")
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("da", "db")
    val out = Curation.kcoreFromPairs(nodes, pairs, k = 3, peels = 10).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    for (n <- Seq(1L, 2L, 3L, 4L))
      assert(out(n) == (true, 3L), s"clique node $n: ${out(n)}")
    for (n <- Seq(5L, 6L, 20L))
      assert(out(n) == (false, 0L), s"peeled/isolated node $n: ${out(n)}")
  }

  test("x63: radius-3 harmonic centrality on a planted path — hand-computed masses") {
    import spark.implicits._
    // Path 1-2-3-4-5 (node 9 isolated): center sees 2 at d=1 + 2 at
    // d=2; an end sees d=1,2,3 (the far end at d=4 is outside radius).
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("da", "db")
    val out = Curation.harmonicFromPairs(nodes, pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (3L, 1833333L), s"end: ${out(1L)}")   // 1e6 + 5e5 + 333333
    assert(out(5L) == (3L, 1833333L))
    assert(out(2L) == (4L, 2833333L), s"inner: ${out(2L)}") // 2*1e6 + 5e5 + 333333
    assert(out(4L) == (4L, 2833333L))
    assert(out(3L) == (4L, 3000000L), s"center: ${out(3L)}") // 2*1e6 + 2*5e5
    assert(out(9L) == (0L, 0L))
  }

  test("x60: registered query is deterministic and covers the %29 node slice") {
    val a = Curation.graphPagerank(spark, sf).collect().toSeq
    val b = Curation.graphPagerank(spark, sf).collect().toSeq
    assert(a == b && a.nonEmpty)
    val expected = graft.Tables.t(spark, sf, "documents")
      .filter(org.apache.spark.sql.functions.col("doc_id") % 29 === 0).count()
    assert(a.size == expected, s"${a.size} vs $expected nodes")
  }

  // ---------------------------------------------------------------- x67
  test("x67: Bloom gate never misses a truly contaminated doc; FP rate bounded") {
    import org.apache.spark.sql.functions.col
    val d = graft.Tables.t(spark, sf, "documents")
    val exact = Curation.contaminationCounts(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0))
      .collect().map(_.getLong(0)).toSet
    val bloom = Curation.bloomDecon(
      d.filter(col("doc_id") % 97 =!= 0), d.filter(col("doc_id") % 97 === 0))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val flagged = bloom.collect { case (id, true) => id }.toSet
    // The Bloom guarantee: flagged ⊇ exactly-contaminated, no exception.
    assert(exact.subsetOf(flagged),
      s"false negatives are impossible by construction: ${exact -- flagged}")
    // False positives are all-k-bit collisions; with |eval grams|·k bits
    // of 2^18 set the per-gram rate is ~(bits/m)^k. Pin a generous doc-
    // level bound so a hashing regression (e.g. degenerate spread) fails
    // loudly rather than silently flooding the gate.
    val fp = (flagged -- exact).size
    assert(fp <= math.max(1, bloom.size / 20),
      s"$fp false positives of ${bloom.size} docs — Bloom spread degenerated")
  }

  test("x67b: the Bloom → exact sieve equals the exact join bit-for-bit") {
    val sieve = graft.SparkEntry.queries("x67b_bloom_sieve")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = graft.SparkEntry.queries("x17_decontamination")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sieve == exact, "confirmation must cancel every Bloom false positive")
    assert(sieve.nonEmpty)
  }

  test("x67: docs shorter than the shingle audit as zero-shingle, unflagged rows") {
    import spark.implicits._
    val train = Seq((1L, "one two"), (2L, "alpha beta gamma")).toDF("doc_id", "text")
    val ev = Seq((9L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val out = Curation.bloomDecon(train, ev).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) == ((0L, 0L, false)), s"short doc must audit unflagged: $out")
    assert(out(2L)._3, "the planted eval shingle must flag doc 2")
  }

  // ---------------------------------------------------------------- x66
  test("x66: snapshot diff classifies added/removed/changed/unchanged exactly") {
    import spark.implicits._
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val cur = Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("doc_id", "text")
    val m = Curation.snapshotDiff(cur, prev).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(m == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed", 4L -> "added"))
    // hash columns carry the evidence: removed has no h_new, added no h_old
    val rows = Curation.snapshotDiff(cur, prev).collect()
      .map(r => r.getLong(0) -> (Option(r.getString(2)), Option(r.getString(3)))).toMap
    assert(rows(3L)._2.isEmpty && rows(3L)._1.nonEmpty)
    assert(rows(4L)._1.isEmpty && rows(4L)._2.nonEmpty)
  }

  test("x66: the registered derived-snapshot query populates every status class") {
    val counts = graft.SparkEntry.queries("x66_snapshot_diff")(spark, sf)
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set("added", "removed", "changed", "unchanged"),
      s"all four classes must be present: $counts")
    // The mod-31 construction pins the class sizes to the id residues.
    val n = graft.Tables.t(spark, sf, "documents")
    def cnt(r: Int) = n.filter(org.apache.spark.sql.functions.col("doc_id") % 31 === r).count()
    assert(counts("added") == cnt(3) && counts("removed") == cnt(11) &&
      counts("changed") == cnt(7))
  }

  test("x75 soft-dedup weights: complete, cluster-normalized, singleton = 1.0") {
    val rows = Curation.dedupWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val nDocs = graft.Tables.t(spark, sf, "documents").count()
    assert(rows.length == nDocs, "every document must carry a weight")
    rows.filter(_._3 == 1).foreach { case (id, _, _, w) =>
      assert(w == 1.0, s"singleton $id must keep full weight, got $w")
    }
    // Per-cluster mass = 1 (modulo the 4dp rounding x n members).
    rows.groupBy(_._2).foreach { case (cid, members) =>
      val mass = members.map(_._4).sum
      assert(math.abs(mass - 1.0) <= members.length * 1e-4,
        s"cluster $cid mass $mass != 1")
      assert(members.map(_._3).distinct.length == 1,
        s"cluster $cid members disagree on its size")
      assert(members.head._3 == members.length,
        s"cluster $cid size column ${members.head._3} != ${members.length}")
    }
    // x37 consistency: same pair graph -> same cluster structure.
    val hard = Curation.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.filter(r => hard.contains(r._1)).foreach { case (id, cid, _, _) =>
      assert(hard(id) == cid, s"doc $id: x75 cluster $cid != x16 ${hard(id)}")
    }
  }

  test("x85 effective size: per-source accounting agrees with x75's weights") {
    val rows = Curation.effectiveSize(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val srcs = graft.Tables.t(spark, sf, "documents")
      .select("source").distinct().collect().map(_.getString(0)).sorted
    assert(rows.map(_._1).toSeq == srcs.toSeq,
      "one row per source, every source present, source-ordered")
    // Ground truth from the x75 frame: wbp must be the integer
    // round-half-up of 10000/cluster_size — i.e. round(weight * 1e4).
    val w = Curation.dedupWeights(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val docSrc = graft.Tables.t(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("source"), Option(r.getAs[String]("text")).getOrElse("")))
      .toMap
    val expected = docSrc.toSeq.groupBy(_._2._1).map { case (src, ds) =>
      val toks = ds.map { case (_, (_, t)) => t.split(" ", -1).length.toLong }
      val wbps = ds.map { case (id, _) =>
        val n = w(id)._1; (20000L + n) / (2L * n)
      }
      val effTokBp = ds.zip(wbps).map { case ((_, (_, t)), bp) =>
        bp * t.split(" ", -1).length
      }.sum
      src -> (ds.size.toLong, toks.sum, wbps.sum, effTokBp / 10000L,
        10000L - effTokBp / toks.sum)
    }
    rows.foreach { case (src, nd, raw, effD, effT, sav) =>
      val (end, eraw, eeffD, eeffT, esav) = expected(src)
      assert((nd, raw, effD, effT, sav) == (end, eraw, eeffD, eeffT, esav),
        s"source $src: got ($nd,$raw,$effD,$effT,$sav) want ($end,$eraw,$eeffD,$eeffT,$esav)")
      assert(effT <= raw && sav >= 0 && sav <= 10000,
        s"source $src: effective mass must not exceed raw ($effT vs $raw, sav=$sav)")
      // wbp is exactly round(weight*1e4): singleton clusters keep full mass.
      assert(effD <= nd * 10000,
        s"source $src: eff_docs_bp $effD cannot exceed $nd docs' full mass")
    }
    // The 1/n law: wbp == round(x75 float weight * 1e4) for every doc.
    w.foreach { case (id, (n, wt)) =>
      assert((20000L + n) / (2L * n) == math.round(wt * 10000),
        s"doc $id: integer wbp disagrees with x75's rounded weight")
    }
  }

  test("x88 LM line strip: conservation, liveness both ways, ordered subsequence") {
    val md = Curation.multiLineDocs(graft.Tables.t(spark, sf, "documents"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val rows = Curation.paragraphLmStrip(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(rows.length == md.size, "every document must appear in the audit")
    rows.foreach { case (id, n, k, rm, clean) =>
      assert(k + rm == n, s"doc $id: kept $k + removed $rm != $n lines")
      val cleanLines = if (clean.isEmpty) Array.empty[String] else clean.split("\n", -1)
      assert(cleanLines.length == k, s"doc $id: clean_text carries ${cleanLines.length} lines, audit says $k")
      // Kept lines must be an ORDERED SUBSEQUENCE of the original doc.
      val orig = md(id).split("\n", -1)
      var j = 0
      cleanLines.foreach { l =>
        while (j < orig.length && orig(j) != l) j += 1
        assert(j < orig.length, s"doc $id: kept line not in source order: '$l'")
        j += 1
      }
    }
    // The filter is live in both directions: rare-token lines strip
    // (the per-source header is exactly such a line), frequent-token
    // body survives — neither all-pass nor all-drop.
    val totalRemoved = rows.map(_._4).sum
    val totalKept = rows.map(_._3).sum
    assert(totalRemoved > 0, "the 1.5x-mean cutoff must strip something")
    assert(totalKept > totalRemoved, "most lines are ordinary and must survive")
    // Deterministic: a second run reproduces the audit exactly.
    val again = Curation.paragraphLmStrip(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(4)))
    assert(again.toSeq == rows.map(r => (r._1, r._3, r._5)).toSeq)
  }

  test("x74b sketch: complete matrix, estimates inside the minhash error band") {
    val rows = Curation.sourceOverlapSketch(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    val nSrc = graft.Tables.t(spark, sf, "documents")
      .select("source").distinct().count()
    assert(rows.length == nSrc * (nSrc - 1) / 2,
      s"the sketch matrix is COMPLETE (got ${rows.length} of ${nSrc * (nSrc - 1) / 2})")
    rows.foreach { case (sa, sb, m, est, exact) =>
      assert(m >= 0 && m <= Curation.SrcSketchK)
      assert(est == math.round(m.toDouble / Curation.SrcSketchK * 10000) / 10000.0)
      // k=64 MinHash: sigma = sqrt(J(1-J)/64) <= 0.0625; gate ~4 sigma
      // plus the one-permutation bias floor on near-zero J.
      assert(math.abs(est - exact) <= 0.25,
        s"($sa,$sb): estimate $est strayed from exact $exact")
    }
    val meanErr = rows.map(r => math.abs(r._4 - r._5)).sum / rows.length
    assert(meanErr <= 0.05, s"mean |est-exact| $meanErr exceeds the k=64 band")
  }

  test("x74 source overlap: planted shared shingle counted once, disjoint pairs absent") {
    import spark.implicits._
    val d = Seq(
      ("srcA", 1L, "a b c d e"),     // grams: "a b c","b c d","c d e"
      ("srcA", 2L, "a b c d e"),     // duplicate doc — distinct() absorbs it
      ("srcB", 3L, "a b c x y"),     // shares exactly "a b c" with srcA
      ("srcC", 4L, "p q r s"))       // disjoint from both
      .toDF("source", "doc_id", "text")
    val m = Curation.sourceOverlapOf(d, 3).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(m.keySet == Set(("srcA", "srcB")),
      s"only the sharing pair may appear, got ${m.keySet}")
    val (shared, na, nb, overlap) = m(("srcA", "srcB"))
    assert(shared == 1 && na == 3 && nb == 3,
      s"expected 1 shared of 3v3 distinct grams, got $shared of $na v $nb")
    assert(overlap == 0.3333, s"overlap must be round(1/3, 4), got $overlap")
  }

  test("x79: every published C4 rule fires on a real multi-line fixture") {
    import spark.implicits._
    // Pages are fed straight to the battery (doc_id, t tokens, full
    // lines), bypassing the corpus-derived view — these are REAL
    // multi-line pages with genuine punctuation, the shape C4 was
    // published for.
    val keptLine = "this line ends with a period."
    val pages = Seq(
      // 1: line rules — terminal punct, min words, javascript.
      (1L, Seq("x"), Seq(
        keptLine,                           // kept
        "no terminal punctuation here",     // dropped: no terminal mark
        "short.",                           // dropped: < 3 words
        "is this a question?",              // kept (ends '?')
        "loads javascript on open.",        // dropped: javascript line
        "he said \"stop\"")),               // kept (ends closing quote)
      // 2: page survives — 5 clean sentences.
      (2L, Seq("x"), Seq.tabulate(5)(i => s"clean sentence number $i here.")),
      // 3: curly-bracket page.
      (3L, Seq("x"), Seq.tabulate(5)(i => s"clean sentence number $i here.") :+
        "function f() { return.",
      ),
      // 4: lorem-ipsum page.
      (4L, Seq("x"), Seq.tabulate(5)(i => s"clean sentence number $i here.") :+
        "lorem ipsum dolor sit amet.",
      ),
      // 5: blocklist word in the token stream.
      (5L, Seq("a", Curation.C4Badword, "b"),
        Seq.tabulate(5)(i => s"clean sentence number $i here."))
    ).toDF("doc_id", "t", "full")
    val out = Curation.c4CleanOf(pages).collect()
      .map(r => r.getLong(0) -> r).toMap

    val p1 = out(1L)
    assert(p1.getInt(2) == 3, s"doc1 keeps punct/question/quote lines, got ${p1.getInt(2)}")
    // 4 marks: '.', '?', and BOTH quote chars of "stop" — the sentence
    // proxy counts terminal-mark characters in kept lines (disclosed
    // simplification; interior quotes never occur in the derived corpus).
    assert(p1.getInt(3) == 4 && p1.getInt(7) == 0,
      "4 sentences < 5: page dropped by the sentence rule")
    assert(p1.getInt(8) == 0 && p1.getString(9) == "",
      "dropped page must emit empty clean_text")

    val p2 = out(2L)
    assert(p2.getInt(8) == 1, "clean 5-sentence page survives")
    assert(p2.getString(9).split("\n").length == 5 &&
      p2.getString(9).startsWith("clean sentence number 0 here."),
      "clean_text reassembles kept lines in order")

    assert(out(3L).getInt(6) == 1 && out(3L).getInt(8) == 0, "curly bracket kills the page")
    assert(out(4L).getInt(5) == 1 && out(4L).getInt(8) == 0, "lorem ipsum kills the page")
    assert(out(5L).getInt(4) == 1 && out(5L).getInt(8) == 0, "blocklist word kills the page")
  }

  test("x79: registered battery is total over the corpus with consistent verdicts") {
    val docsN = Tables.t(spark, sf, "documents").count()
    val rows = Curation.c4Clean(spark, sf).collect()
    assert(rows.length == docsN, "one verdict row per document, drops included")
    rows.foreach { r =>
      val (id, nLines, nKept) = (r.getLong(0), r.getInt(1), r.getInt(2))
      assert(nKept <= nLines, s"doc $id keeps more lines than it has")
      val (nSent, bad, lorem, brace) =
        (r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))
      val (passSent, pageKept, clean) = (r.getInt(7), r.getInt(8), r.getString(9))
      assert(passSent == (if (nSent >= Curation.C4MinSentences) 1 else 0))
      assert(pageKept ==
        (if (bad == 0 && lorem == 0 && brace == 0 && passSent == 1) 1 else 0),
        s"doc $id verdict inconsistent with its own flags")
      if (pageKept == 1) {
        assert(clean.nonEmpty && clean.split("\n").length == nKept,
          s"doc $id clean_text must carry exactly the kept lines")
      } else assert(clean.isEmpty, s"doc $id dropped page must emit ''")
      // Planted hazards land exactly on their residue classes.
      if (id % 41 == 0) assert(lorem == 1, s"doc $id: planted lorem line must flag")
      if (id % 43 == 0) assert(brace == 1, s"doc $id: planted brace line must flag")
    }
    // The battery is live in both directions on the corpus.
    assert(rows.exists(_.getInt(8) == 1) && rows.exists(_.getInt(8) == 0),
      "corpus must contain both kept and dropped pages")
  }

  test("x46c incremental strip: restrips exactly the touched set and equals the full recompute") {
    import spark.implicits._
    // Controlled corpus, shingleLen 2, maxDf 1 (df > 1 is hot), minRun 1.
    // Standing old survivors: A shares "x y" with C (hot); B is isolated.
    val oldSurv = Seq(
      (1L, "x y z w"), (2L, "p q r"), (3L, "x y c1 c2"))
      .toDF("doc_id", "text")
    val postings = Curation.shinglesOf(oldSurv, 2).select("sh", "doc_id")
    val dfOld = postings.groupBy("sh").agg(count(lit(1)).as("df"))
    val hotOld = dfOld.filter(col("df") > 1).select("sh")
    val stripOutOld = Curation.spanMaskAgainst(oldSurv, hotOld, 2)
    // Wave: C departs; D arrives sharing "y z" with A. Two hot flips:
    // "x y" (2 -> 1, cools) and "y z" (1 -> 2, heats) - both touch A
    // and only A among the alive old docs; B must NOT restrip.
    val lexSurv = Seq(
      (1L, "x y z w"), (2L, "p q r"), (4L, "y z d1"))
      .toDF("doc_id", "text")
    // Force BOTH dispatch branches (rebuildFraction 1.1 = always
    // incremental, 0.0 = always full recompute): identical output is the
    // dispatch's whole soundness argument.
    val (restripIds, frame) = Curation.incrementalStrip(lexSurv,
      oldSurv.select("doc_id"), postings, dfOld, stripOutOld, 2, 1, 1,
      rebuildFraction = 1.1)
    val (_, frameFull) = Curation.incrementalStrip(lexSurv,
      oldSurv.select("doc_id"), postings, dfOld, stripOutOld, 2, 1, 1,
      rebuildFraction = 0.0)
    assert(restripIds.collect().map(_.getLong(0)).toSet == Set(1L, 4L),
      "restrip set must be exactly (added union flipped-shingle docs)")
    val got = frame.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val full = Curation.spanDedupOn(lexSurv, 2, 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got == full, s"incremental strip must equal the full recompute: $got vs $full")
    val gotFull = frameFull.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(gotFull == full, "the rebuild-dispatch branch must be bit-identical too")
    // Spot the semantics: "y z" is now hot, so A masks tokens 1-2 and D
    // masks 0-1; "x y" cooled, so A keeps "x"; B is untouched verbatim.
    assert(got(1L) == (4L, 2L, "x w"))
    assert(got(2L) == (3L, 0L, "p q r"))
    assert(got(4L) == (3L, 2L, "d1"))
  }
}
