package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Build, Materialize, Tables}
import graft.ext.{Audio, Components, CorpusDiff, Curation, ExactDedup, JaccardDedup, MinHashDedup, MinHashMergeAgg, Multimodal, Pq, SimHash, Similarity, TextOps}

/** Training-data pipeline extensions (SURVEY.md §7.3 M3): dedup family,
  * similarity search, text analysis, multimodal plumbing — exercised on the
  * `documents` / `embeddings` tables. Approximate operators (MinHash LSH,
  * SimHash, hyperplane ANN) have no SQL oracle by nature; they expose
  * deterministic signature dumps here (rows-only check) and get exactness /
  * recall assertions in the scalatest suites instead.
  */
object Extensions {

  type Q = (SparkSession, String) => DataFrame

  /** IVF is a train-once / probe-many structure: the model (centroids) and
    * the corpus assignment are built and persisted ONCE per (session,
    * corpus); registry entries then measure what a serving system pays —
    * the probe. One small persisted assignment per corpus dir, alive
    * exactly as long as the model is servable — a long-lived deployment
    * would hold the same state.
    */
  private val ivfFor =
    Build[(Similarity.IvfModel, DataFrame)]("ivf_train_assign", v => Seq(v._2)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val model = Similarity.ivfTrain(emb, nlist = 16, iters = 2)
      // pinned: the probe below must not pay assignment
      (model, Materialize.pin(Similarity.ivfAssign(emb, model)))
    }

  /** The AUTO-NLIST twin of [[ivfFor]] (round-13 verdict item 1): the
    * pinned-nlist model keeps nlist=16 at every SF so its centroids stay
    * comparable across corpus sizes, but that makes per-cluster occupancy
    * — the base of the SemDeDup family's within-cluster quadratic — grow
    * linearly with the corpus (the registry's worst sf1 slopes, ×8–18 at
    * ×10 data). This model is trained with the PRODUCTION knob instead:
    * `nlist = autoNlist(n, targetClusterSize = 128)` — expected occupancy
    * pinned at ~128 vectors at ANY corpus size, so the semantic entries'
    * pair work scales linearly. 128 matches the pinned model's sf0.1
    * occupancy (2000/16), so at sf0.1 the auto and pinned entries do
    * comparable work and the sf1 slope isolates the knob. Oracle literals
    * are regenerated from the trained centroids per corpus (the
    * [[ivfOracles]] discipline), so the entries stay hash-matched at
    * every SF even though nlist differs across SFs.
    */
  private val autoIvfFor =
    Build[(Similarity.IvfModel, DataFrame)]("ivf_auto_train_assign", v => Seq(v._2)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val dim = emb.select(size(col("embedding"))).head.getInt(0)
      val k = Similarity.autoNlist(emb.count(), targetClusterSize = 128L,
        maxNlist = Similarity.centroidCap(dim))
      val model = Similarity.ivfTrain(emb, nlist = k, iters = 2)
      (model, Materialize.pin(Similarity.ivfAssign(emb, model)))
    }

  /** Typo-augmented documents for the edit-distance entries: docs with
    * `doc_id % 5 = 0` append a last-code-point-deleted variant of their
    * first word (length ≥ 3) — a deterministic derivation BOTH engines
    * compute (the x_text_pii augmentation discipline), because the
    * fixture vocabulary has no natural distance-1 pairs to exercise the
    * operator on.
    */
  /** Per-(session, corpus, entry) OWNERSHIP SLOT for library calls whose
    * results (or internally-persisted inputs) the caller owns under the
    * [[Materialize]] rule (`estimateVsExactMd5`, the pair joins, the
    * `*FromSigs` entry points, the EditDist family): each registry invocation parks
    * the new frame here, and the PREVIOUS one is released IF its plan
    * genuinely differs, so warm bench repetitions hold at most ONE
    * persisted frame per entry (round-14 ADVICE).
    *
    * The `sameResult` guard is load-bearing (round-15 measurement):
    * Spark's CacheManager dedupes `persist` by CANONICALIZED plan, so
    * closure-free repetitions (the estimator, the md5 sig frames — pure
    * SQL expressions) never accumulated entries in the first place — all
    * reps SHARE one cache entry, and unconditionally unpersisting the
    * "previous" frame evicts the entry the new frame is about to serve
    * from (measured: the estimator entry went 0.5 s → 40 s warm, paying
    * three uncached signature sweeps per rep). Only plans that really
    * differ across calls — Dataset-closure lineages like the EditDist
    * flatMap, whose capturing lambdas never canonicalize equal — ever
    * accumulate, and for exactly those the guard lets the release fire.
    */
  private val ownedSlots =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]

  private def owned(s: SparkSession, dir: String, name: String)(df: DataFrame): DataFrame = {
    ownedSlots.put((s.sparkContext.applicationId, dir, name), df)
      .foreach { prev =>
        if ((prev ne df) &&
            !prev.queryExecution.analyzed.sameResult(df.queryExecution.analyzed))
          Materialize.release(prev)
      }
    df
  }

  private def editAugDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).withColumn("text", expr(
      """CASE WHEN doc_id % 5 = 0 AND length(split(text, ' ')[0]) >= 3
        |     THEN concat(text, ' ',
        |       substring(split(text, ' ')[0], 1, length(split(text, ' ')[0]) - 1))
        |     ELSE text END""".stripMargin))

  /** PQ is the same train-once shape as IVF (see [[ivfFor]]): codebooks
    * + the encoded 8-byte-per-vector code table are built once per
    * (session, corpus); registry entries measure the serving cost — an ADC
    * probe over codes — never the Lloyd iterations.
    */
  private val pqFor =
    Build[(Pq.PqModel, DataFrame)]("pq_train_encode", v => Seq(v._2)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val model = Pq.pqTrain(emb, m = 8, ksub = 16, iters = 2)
      (model, Materialize.pin(Pq.pqEncode(emb, model))) // probes must not pay encoding
    }

  /** Scalar quantization: same train-once shape (model state = 2·d range
    * doubles); entries measure the serving cost — encode / probe over the
    * int8 code column — never the range pass.
    */
  private val sqFor =
    Build[(graft.ext.Sq.SqModel, DataFrame)]("sq_train_encode", v => Seq(v._2)) { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val model = graft.ext.Sq.sqTrain(emb)
      (model, Materialize.pin(graft.ext.Sq.sqEncode(emb, model))) // probes must not pay encoding
    }

  /** Linear probe: train-once model state like IVF/PQ — the ridge solve
    * runs on collected moments (driver-side, (d+1)² — model state), cached
    * per (session, corpus) so the scoring entry measures serving cost.
    */
  private val probeFor = Build[(Array[Double], Double)]("probe_train") { (s, dir) =>
    graft.ext.LinearProbe.train(Tables.embeddings(s, dir), lambda = 1e-3)
  }

  /** IRLS quality-gate training (graft.ext.Irls): Newton rounds on the
    * LABELED SLICE (vec_id % 5 == 0 plays the expensive labeled set; the
    * binary target is label < 5), cached per (session, corpus) like the
    * probe. Rounds = 2, ridge 1e-2.
    */
  private val irlsFor = Build[graft.ext.Irls.IrlsModel]("classifier_train") { (s, dir) =>
    graft.ext.Irls.train(
      Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 0),
      yCol = (col("label") < 5).cast("double"), rounds = 2, lambda = 1e-2)
  }

  /** Decontamination n-gram ledger per corpus
    * (graft.streaming.DecontamLedgerStream): the training side folds in
    * as two waves (doc_id % 7 != 0, then the rest) — the probe entry then
    * measures exactly what an eval-set change pays.
    */
  private val decontamLedgerFor = Build[String]("decontam_ledger") { (s, dir) =>
    val root = Build.scratch("graft-decontam") + "/st"
    val train = Tables.documents(s, dir).filter(col("source") =!= "src0")
    graft.streaming.DecontamLedgerStream.maintain(
      train.filter(col("doc_id") % 7 =!= 0), 0L, root, n = 3)
    graft.streaming.DecontamLedgerStream.maintain(
      train.filter(col("doc_id") % 7 === 0), 1L, root, n = 3)
    root
  }

  /** The steady-state layout every segment-ledger probe entry serves
    * from: `corpus` folds into a fresh root as three waves playing
    * successive ingests (doc_id % 3 == 1, then == 2), a COMPACTION, then
    * the third wave (doc_id % 3 == 0) past the compact segment — one
    * compact segment + a fresh batch dir, what a long-lived maintenance
    * job actually has. Returns the root.
    */
  private def threeWaves(s: SparkSession, ledger: graft.streaming.SegmentLedger,
                         corpus: DataFrame): String = {
    val root = Build.scratch("graft-ledger") + "/st"
    ledger.maintain(corpus.filter(col("doc_id") % 3 === 1), 0L, root)
    ledger.maintain(corpus.filter(col("doc_id") % 3 === 2), 1L, root)
    ledger.compact(s, root)
    ledger.maintain(corpus.filter(col("doc_id") % 3 === 0), 2L, root)
    root
  }

  /** MinHash signature ledger per corpus
    * (graft.streaming.MinHashLedgerStream) over doc_id % 10 != 0, in
    * [[threeWaves]]: the probe entry pays exactly what a NEW batch's fuzzy
    * dedup costs (batch sketch + one band join against stored signatures;
    * the corpus is never re-sketched).
    */
  private val minhashLedgerFor = Build[String]("minhash_ledger") { (s, dir) =>
    threeWaves(s, graft.streaming.MinHashLedgerStream.ledger(),
      Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0))
  }

  /** SimHash fingerprint ledger per corpus
    * (graft.streaming.SimHashLedgerStream): the corpus (doc_id % 10 != 0)
    * folds in as three waves with a compaction after the second (the
    * steady-state layout — one compact segment + a fresh batch, round-12
    * verdict item 5); the probe entry pays the steady-state hamming
    * near-dup cost — batch sketch + one pigeonhole join against 16 B/doc
    * stored fingerprints.
    */
  private val simhashLedgerFor = Build[String]("simhash_ledger") { (s, dir) =>
    threeWaves(s, graft.streaming.SimHashLedgerStream,
      Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0))
  }

  /** Persisted md5 signature frames (batch + corpus splits) for the two
    * in-place incremental twins `x_dedup_{minhash,simhash}_md5_incr`. The
    * O(H·S)/O(64·T) sig lambdas feed banding AND the candidate verify, so
    * the frames must be persisted — but the round-12 ADVICE moved that
    * storage decision OUT of the library (`novelAgainstSigs*` runs here
    * with `materialize = false`, zero storage side effects): this build
    * OWNS the persisted frames and a rebuild releases them — the prPreFor
    * discipline. The maintained-ledger probe entries use
    * the library's materialize=true path instead, paying the honest
    * per-batch steady-state cost with nothing left pinned.
    */
  private val minhashIncrSigsFor =
    Build[(DataFrame, DataFrame)]("minhash_incr_sigs", v => Seq(v._1, v._2)) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      (Materialize.pin(MinHashDedup.signaturesMd5(docs.filter(col("doc_id") % 10 === 0))),
        Materialize.pin(MinHashDedup.signaturesMd5(docs.filter(col("doc_id") % 10 =!= 0))))
    }

  private val simhashIncrSigsFor =
    Build[(DataFrame, DataFrame)]("simhash_incr_sigs", v => Seq(v._1, v._2)) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      (Materialize.pin(SimHash.signaturesMd5(docs.filter(col("doc_id") % 10 === 0))),
        Materialize.pin(SimHash.signaturesMd5(docs.filter(col("doc_id") % 10 =!= 0))))
    }

  /** Exact-content ledger per corpus
    * (graft.streaming.ExactDedupLedgerStream): the corpus (source != src0,
    * the x_dedup_incremental split) folds in as three waves with a
    * compaction after the second (the steady-state layout — round-12
    * verdict item 5); the probe entry then pays the steady-state cost —
    * batch hashed, corpus NEVER re-read (novel-by-hash anti join +
    * candidate-only text verify against state).
    */
  private val exactLedgerFor = Build[String]("exact_dedup_ledger") { (s, dir) =>
    threeWaves(s, graft.streaming.ExactDedupLedgerStream,
      Tables.documents(s, dir).filter(col("source") =!= "src0"))
  }

  /** Vocabulary-count ledger per corpus (graft.streaming
    * .VocabLedgerStream) over the typo-AUGMENTED documents (editAugDocs —
    * the x_vocab_* entries' corpus): three waves with a compaction after
    * the second (the steady-state layout). The probe entry then pays only
    * the vocabulary-sized canonicalization against served counts — the
    * corpus is never re-tokenized.
    */
  private val vocabLedgerFor = Build[String]("vocab_ledger") { (s, dir) =>
    threeWaves(s, graft.streaming.VocabLedgerStream,
      editAugDocs(s, dir))
  }

  /** CDC chunk-store ledger per corpus (graft.streaming.CdcLedgerStream):
    * the corpus (source != src0) folds in as three waves with a
    * compaction after the second (the steady-state layout) — the probe
    * entry then pays the steady-state cost (batch chunked + one
    * 8-byte-keyed join pair, corpus never re-chunked).
    */
  private val cdcLedgerFor = Build[String]("cdc_chunk_ledger") { (s, dir) =>
    threeWaves(s, graft.streaming.CdcLedgerStream,
      Tables.documents(s, dir).filter(col("source") =!= "src0"))
  }

  /** Boilerplate span-df ledger per corpus
    * (graft.streaming.BoilerLedgerStream): the FULL documents table folds
    * in as three waves with a compaction after the second (the batch twin
    * `x_text_boiler_coverage` counts df over ALL docs); the probe entry
    * then pays only its own span explode + one hot-sliver join.
    */
  private val boilerLedgerFor = Build[String]("boiler_df_ledger") { (s, dir) =>
    threeWaves(s, graft.streaming.BoilerLedgerStream.ledger(n = 3),
      Tables.documents(s, dir))
  }

  /** JSONL export per corpus (graft.io.Jsonl): the documents table
    * written ONCE as real one-object-per-line files; the roundtrip entry
    * re-ingests them schema-pinned.
    */
  private val jsonlExportFor = Build[String]("jsonl_export") { (s, dir) =>
    val root = Build.scratch("graft-jsonl") + "/export"
    graft.io.Jsonl.write(Tables.documents(s, dir), root)
    root
  }

  /** Loader shard export per corpus (graft.io.Shards): interleave
    * schedule (total 300, the x_mix_schedule fixture) → 512-token
    * sequences packed in consumption order → 8 sequences per shard →
    * written once (data + manifest, dual-_SUCCESS). The entry serves the
    * written manifest; the schedule and packed checkpoints it was written
    * from are freed, so the build holds no storage.
    */
  private val shardExportFor = Build[String]("pack_shards_write") { (s, dir) =>
    val root = Build.scratch("graft-shards") + "/export"
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
      TextOps.nWords(col("text")).cast("long").as("n_tokens"))
    val sched = graft.ops.Sampling.interleaveSchedule(docs, "source", total = 300L)
    val order = Seq(col("pos"), col("source"), col("mix_rank"))
    val packed = graft.ext.Packing
      .packBinsBy(sched, order, "n_tokens", budget = 512L)
      .withColumn("shard_id", expr("seq_id div 8"))
    graft.io.Shards.write(packed, root, order)
    Seq(sched, packed).foreach(Materialize.release(_))
    root
  }

  /** PCA: train-once model state like the probe — one moments pass +
    * driver eigensolve, cached per (session, corpus).
    */
  private val pcaFor = Build[graft.ext.Pca.PcaModel]("pca_train") { (s, dir) =>
    graft.ext.Pca.train(Tables.embeddings(s, dir), k = 4)
  }

  private val pcaSkFor = Build[graft.ext.Pca.PcaModel]("pca_train_sketched") { (s, dir) =>
    graft.ext.Pca.trainSketched(Tables.embeddings(s, dir), k = 4)
  }

  /** Written-once cid-partitioned layout per corpus (the serving path's
    * durable half — a deployment writes it at assignment time, probes read
    * it forever after; here it lands in a temp dir per application run).
    */
  private val ivfLayoutFor = Build[String]("ivf_layout_write") { (s, dir) =>
    val path = Build.scratch("graft-ivf-layout") + "/assigned"
    Similarity.ivfWriteAssignment(ivfFor(s, dir)._2, path)
    path
  }

  /** Incrementally maintained ANN index per corpus: the embeddings table
    * folded in as three waves (vec_id mod 3) through the append-shaped
    * cid-partitioned maintainer (frozen centroids + drift gate —
    * [[graft.streaming.VectorIndexStream]]). Maintained == batch
    * assignment is the checked contract, so the oracle is the trained-
    * centroid nearest-assignment SQL over the full table.
    */
  private val annLedgerFor = Build[String]("ann_index_ledger") { (s, dir) =>
    val root = Build.scratch("graft-ann-ledger") + "/layout"
    val (model, assigned) = ivfFor(s, dir)
    val baseline = graft.streaming.VectorIndexStream
      .quantizationError(assigned, model)
    val emb = Tables.embeddings(s, dir)
    (0 until 3).foreach { w =>
      graft.streaming.VectorIndexStream.maintain(
        emb.filter(pmod(col("vec_id"), lit(3)) === w), w, root,
        model, baseline)
    }
    root
  }

  /** Incremental aggregate ledger per corpus: the events table folded in
    * as three waves (event_id mod 3) through the versioned-parquet
    * maintainer — maintained == recompute is the checked contract, so the
    * oracle is the DIRECT aggregate over the full table.
    */
  private val aggLedgerFor = Build[String]("agg_ledger") { (s, dir) =>
    val root = Build.scratch("graft-agg-ledger") + "/state"
    val ev = Tables.events(s, dir)
      .withColumn("hr", expr("unix_timestamp(ts) div 3600 % 24"))
    (0 until 3).foreach { w =>
      graft.ext.AggLedger.maintain(
        ev.filter(pmod(col("event_id"), lit(3)) === w), w, root,
        keys = Seq("event_type", "hr"), valueCol = "value",
        streamId = Some("agg-ledger-waves"), // txn-guard path exercised
        keepVersions = 3) // retain every wave: x_state_time_travel
    }
    root
  }

  /** Incremental inverted-index ledger per corpus: the documents table
    * folded in as three waves (doc_id mod 3) through the versioned-state
    * maintainer — maintained == recompute is the checked contract, so the
    * oracle is the batch inverted index over the full table (the
    * x_text_inverted_index SQL verbatim).
    */
  private val indexLedgerFor = Build[String]("index_ledger") { (s, dir) =>
    val root = Build.scratch("graft-index-ledger") + "/state"
    val docs = Tables.documents(s, dir)
    (0 until 3).foreach { w =>
      graft.streaming.IndexLedgerStream.maintain(
        docs.filter(pmod(col("doc_id"), lit(3)) === w), w, root)
    }
    root
  }

  /** Per-node triangle counts over the cached pair graph — computed once
    * per corpus (the CC-ledger discipline): both graph entries serve from
    * this checkpointed result instead of re-running the wedge joins.
    */
  private val triFor = Build[DataFrame]("tri_counts", Seq(_)) { (s, dir) =>
    graft.ext.Triangles.triangleCounts(ccPairsFor(s, dir))
  }

  /** The near-dup pair graph is the expensive half of the ledger (jaccard
    * prefix-filter join); built once, persisted, and shared between the
    * propagation and star-contraction component entries.
    */
  private val ccPairsFor = Build[DataFrame]("cc_pair_graph", Seq(_)) { (s, dir) =>
    JaccardDedup.similarPairs(Tables.documents(s, dir), threshold = 0.5)
  }

  /** Cosine pair graph, same once-per-corpus ledger treatment as
    * [[ccPairsFor]]: the AllPairs join was re-running end-to-end on every
    * serve — 15.3 s isolated, the single largest line of the r8 bench —
    * while its jaccard sibling served from a persisted build.
    */
  private val cosinePairsFor = Build[DataFrame]("cosine_pair_graph", Seq(_)) { (s, dir) =>
    graft.ext.CosineJoin.similarPairs(Tables.documents(s, dir),
      threshold = 0.4, maxDf = 100L, ngram = 3)
  }

  /** Exact-Jaccard truth pair set — x_dedup_minhash_recall's eval
    * substrate. Heavy by design (the common-shingle inverted-index join
    * the sketch exists to avoid), so it gets the same ledger treatment as
    * the other pair graphs: built once per corpus, persisted, itemized.
    */
  private val minhashTruthFor = Build[DataFrame]("minhash_truth_pairs", Seq(_)) { (s, dir) =>
    MinHashDedup.exactPairsMd5(Tables.documents(s, dir), minJaccard = 0.5)
  }

  /** Exact embedding-cosine pair set — shared by `x_dedup_embed_exact`
    * (which IS this frame) and `x_dedup_semantic_recall`'s truth side;
    * quadratic by spec, so one build serves every consumer.
    */
  private val embedTruthFor = Build[DataFrame]("embed_truth_pairs", Seq(_)) { (s, dir) =>
    // pinned: serves must not re-run the pair join
    Materialize.pin(Similarity.embedPairsExact(Tables.embeddings(s, dir), threshold = 0.4))
  }

  /** k-core membership, ledger treatment: the 6-round peel (one degree
    * agg + two semi-joins per round) runs once per corpus; serves read
    * the checkpointed result.
    */
  private val kcoreFor = Build[DataFrame]("kcore_ledger", Seq(_)) { (s, dir) =>
    graft.ext.KCore.kCoreRounds(ccPairsFor(s, dir), k = 2, rounds = 6)
  }

  /** Component labels per corpus — the "dedup ledger": computed once (the
    * result is already lineage-checkpointed by connectedComponents, so the
    * cached frame serves without recompute).
    */
  private val ccFor = Build[DataFrame]("cc_ledger", Seq(_)) { (s, dir) =>
    Components.connectedComponents(ccPairsFor(s, dir))
  }

  /** Star-contraction labels, same ledger treatment as [[ccFor]]: the
    * contraction loop runs once per corpus (its output is already
    * localCheckpoint-materialized), every later serve reads the cached
    * blocks — serving had been re-running the full 4-5 s fixpoint loop per
    * bench rep while its propagation twin served at 0.02 s.
    */
  private val ccStarFor = Build[DataFrame]("cc_star_ledger", Seq(_)) { (s, dir) =>
    Components.connectedComponentsStar(ccPairsFor(s, dir))
  }

  /** Pre-batch state for the incremental-CC entry: the ledger over pairs
    * whose endpoints BOTH predate the batch (doc_id % 7 != 0), plus the
    * batch's new edges. Built once like the other ledgers — the entry then
    * measures exactly what an ingest pays.
    */
  private val ccIncrFor =
    Build[(DataFrame, DataFrame)]("cc_incr_prestate", v => Seq(v._1, v._2)) { (s, dir) =>
      val pairs = ccPairsFor(s, dir)
      val inBatch = (c: org.apache.spark.sql.Column) => c % 7 === 0
      val oldEdges = pairs.filter(!inBatch(col("doc_a")) && !inBatch(col("doc_b")))
      val newEdges = Materialize.pin(
        pairs.filter(inBatch(col("doc_a")) || inBatch(col("doc_b"))))
      (Components.connectedComponents(oldEdges), newEdges)
    }

  /** Trained BPE merge list per corpus — train-once model state like the
    * IVF centroids (numMerges driver-side entries); the pair-count and
    * tokenize entries serve from it.
    */
  private val bpeFor = Build[Seq[(String, String, Long)]]("bpe_train") { (s, dir) =>
    graft.ext.Bpe.train(Tables.documents(s, dir), "text", numMerges = 10)
  }

  /** Byte-level BPE merge list per corpus (graft.ext.ByteBpe) — the GPT-2
    * class twin, trained like `bpe_train`.
    */
  private val bpeBytesFor = Build[Seq[(String, String, Long)]]("bpe_bytes_train") { (s, dir) =>
    graft.ext.ByteBpe.train(Tables.documents(s, dir), "text", numMerges = 10)
  }

  /** Count-Min sketch per corpus: d·w longs of driver model state, built
    * by one full-corpus aggregation — a BUILD, not query work, so it is
    * cached per (app, dir) and timed like `bpe_train`/`substr_dup_scan`
    * (otherwise the collect runs at DataFrame-construction time and the
    * bench attributes the corpus scan to nothing).
    */
  private val cmsFor = Build[Array[Long]]("cms_sketch") { (s, dir) =>
    import s.implicits._
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .as[String]
      .select(new graft.ext.CountMinAgg(4, 4096).toColumn).head()
  }

  /** Duplicated k-window occurrences per corpus — the exact-substring
    * ledger ([[graft.ext.SubstrDedup.dupOccurrences]]): one hash-first
    * corpus scan, cached like the CC pair graph; the spans / stats / cut
    * entries all serve from it.
    */
  private val substrOccFor = Build[DataFrame]("substr_dup_scan", Seq(_)) { (s, dir) =>
    graft.ext.SubstrDedup.dupOccurrences(Tables.documents(s, dir), k = 40)
  }

  val queries: Map[String, Q] = Map(
    // ---- text analysis -------------------------------------------------
    "x_text_stats" -> ((s: SparkSession, dir: String) => {
      val t = col("text")
      Tables.documents(s, dir).select(
        col("doc_id"), col("n_chars"),
        TextOps.nWords(t).as("n_words"),
        TextOps.nTokensRegex(t).as("n_tokens"),
        TextOps.nDistinctWords(t).as("n_distinct"),
        TextOps.avgWordLen(t).as("avg_word_len"),
        (TextOps.stopwordCount("text", TextOps.DefaultStopwords).cast("double") /
          TextOps.nWords(t)).as("stop_ratio"))
    }),

    "x_text_langid" -> ((s: SparkSession, dir: String) => {
      Tables.documents(s, dir).select(
        col("doc_id"), col("lang"),
        TextOps.predictedLang("text").as("predicted"))
    }),

    "x_text_fingerprint" -> ((s: SparkSession, dir: String) => {
      Tables.documents(s, dir).select(
        col("doc_id"), TextOps.fingerprint("text").as("fp"))
    }),

    // inverted index: term → document frequency + sorted postings list —
    // the retrieval-side layout built from the same explode/groupBy shape
    // as the vocabulary. Postings are distinct doc ids (document-level
    // index), serialized sorted so the oracle can hash-match; the shuffle
    // carries (term-hash…) pairs only. At 100 TB the postings column
    // becomes the value of a bucketed-by-term layout.
    "x_text_inverted_index" -> ((s: SparkSession, dir: String) => {
      Tables.documents(s, dir)
        .select(explode(array_distinct(split(col("text"), " "))).as("term"),
          col("doc_id"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          array_join(array_sort(collect_set(col("doc_id"))), ",").as("postings"))
    }),

    // the index as an INCREMENTALLY MAINTAINED ledger: three ingest waves
    // folded through streaming.IndexLedgerStream (VersionedLedger substrate,
    // per-batch cost ∝ batch); maintained == recompute EXACT — the oracle
    // is the batch inverted index above, verbatim
    "x_index_incremental" -> ((s: SparkSession, dir: String) => {
      graft.streaming.IndexLedgerStream.serve(s, indexLedgerFor(s, dir))
    }),

    // retrieval on top of the inverted index: score = Σ_t ⌊N/df_t⌋ over
    // matched query terms (an integer-exact idf surrogate — log-based
    // BM25/tf-idf weights are libm-dependent and can't cross-engine
    // hash-match), query = the 3 rarest terms (deterministic: df asc, term
    // asc), top-10 docs with a full tiebreak. The whole chain — index
    // build, term selection, scoring join, top-k — is one declarative plan
    // (no driver-side term list). N arrives via a broadcast single-row
    // count, not a collected literal.
    "x_text_search" -> ((s: SparkSession, dir: String) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
      val dfreq = toks.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val q = dfreq.orderBy(col("df"), col("term")).limit(3).select(col("term"), col("df"))
      val n = Tables.documents(s, dir).agg(count(lit(1)).as("n_total"))
      toks.join(broadcast(q), Seq("term"))
        .crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        .agg(sum(expr("n_total div df")).as("score"), count(lit(1)).as("n_hits"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    }),

    // tf-WEIGHTED retrieval: score = Σ_t tf(t,d) · ⌊N/df_t⌋ — the tf·idf
    // shape with the same integer-exact idf surrogate as x_text_search
    // (libm log weights can't cross-engine hash-match). df counts DISTINCT
    // docs; tf counts every occurrence, so the scoring join reuses the raw
    // token explode and the only non-broadcast shuffle is the final
    // doc-keyed aggregation. Query = 3 rarest terms, fully tiebroken.
    "x_text_tfidf" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val all = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val dfreq = all.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val q = dfreq.orderBy(col("df"), col("term")).limit(3).select(col("term"), col("df"))
      val n = docs.agg(count(lit(1)).as("n_total"))
      all.join(broadcast(q), Seq("term"))
        .crossJoin(broadcast(n))
        .groupBy(col("doc_id"))
        .agg(sum(expr("n_total div df")).as("tf_score"),
          count(lit(1)).as("n_term_hits"))
        .orderBy(col("tf_score").desc, col("doc_id")).limit(10)
    }),

    // per-query-doc keyword retrieval: x_text_search generalized from one
    // global query to a broadcast query-doc term-set join (df-capped so
    // per-term fan-out is bounded); word-3-gram phrase terms — the
    // jaccard/cosine small-vocabulary convention (this corpus has 31
    // distinct words, all df 25-402, so unigram retrieval degenerates;
    // its 16k distinct 3-grams have median df 1). The keyword half of the
    // hybrid fusion below, oracled on its own.
    "x_retrieval_kw_topk" -> ((s: SparkSession, dir: String) => {
      graft.ext.Retrieval.keywordTopK(Tables.documents(s, dir),
        nQueries = 5, ngram = 3)
    }),

    // hybrid retrieval: keyword top-10 ⊕ exact-cosine top-10 fused by
    // Reciprocal Rank Fusion (1/(60+rank), the zero-tuning BM25+dense
    // standard) — both lists k-bounded per query, so fusion touches ≤ 2k
    // rows/query; the RRF doubles are two IEEE divisions + one add,
    // bit-identical cross-engine, rounded before the final ordering
    "x_retrieval_hybrid_rrf" -> ((s: SparkSession, dir: String) => {
      graft.ext.Retrieval.hybridRrf(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        nQueries = 5, ngram = 3)
    }),

    // PII / boilerplate scrub: URL → <URL>, email → <EMAIL>, digit runs →
    // <NUM> (regexp_replace chain, RE2-compatible patterns — fused with
    // the scan, mirrored verbatim in the oracle)
    "x_text_scrub" -> ((s: SparkSession, dir: String) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextOps.scrub(col("text")).as("scrubbed"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).as("n_nums"))
    }),

    // document quality scoring (Gopher/C4-style rule battery) — pure
    // columnar, fused with the scan; every rule is an exact predicate so
    // the whole battery is oracle-checked
    "x_text_quality" -> ((s: SparkSession, dir: String) => {
      val rules = TextOps.qualityRules("text")
      Tables.documents(s, dir).select(
        (col("doc_id") +: rules.map { case (n, c) => c.as(n) }) :+
          TextOps.qualityScore("text").as("score"): _*)
    }),

    // ---- deduplication -------------------------------------------------
    // hash-first exact dedup: the wide shuffle carries (xxhash64, id), not
    // document bodies — same output as groupBy(text) (see ExactDedup)
    "x_dedup_exact" -> ((s: SparkSession, dir: String) => {
      ExactDedup.byContent(Tables.documents(s, dir))
    }),

    // unigram-set Jaccard join via lossless prefix filtering — candidates
    // come from a token-bucket join, not all-pairs-per-source (see
    // JaccardDedup; output identical to the naive form, oracle unchanged).
    // Length-ratio prefilter (|Δchars|·5 ≤ sum ⟺ ratio ≤ 1.5) is part of
    // the operator's spec, mirrored in the oracle.
    "x_dedup_jaccard" -> ((s: SparkSession, dir: String) => {
      owned(s, dir, "x_dedup_jaccard")(
        JaccardDedup.similarPairs(Tables.documents(s, dir), threshold = 0.5))
    }),

    // pair graph → dedup decisions: connected components over the jaccard
    // near-dup pairs (min-label propagation; component = min reachable id).
    // Similarity is not transitive, so clusters — not pairs — are the unit
    // a dedup keeps one representative of. Unique fixpoint → oracle-checked
    // against a DuckDB recursive CTE computing the same labels. Labels are
    // computed once per corpus (the dedup ledger a deployment persists)
    // and served from the app-scoped cache, like the IVF model state.
    "x_dedup_cc" -> ((s: SparkSession, dir: String) => ccFor(s, dir)),

    // best-quality cluster representative: within each near-dup component
    // keep the HIGHEST-quality member (tie → min doc_id) — the production
    // keep rule when duplicate copies differ in cleanliness (min-id
    // remains the canonical convention elsewhere). One keyed aggregation
    // over the cached component ledger: min(struct(-quality, id)) is the
    // argmax without a per-component window.
    "x_dedup_best_rep" -> ((s: SparkSession, dir: String) => {
      val q = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.qualityScore("text").cast("int").as("q"))
      Curation.bestRepresentative(ccFor(s, dir), q)
    }),

    // same component labels via alternating large-star/small-star
    // contraction (O(log n) rounds on ANY diameter — the general-graph
    // path); shares the pair graph and the recursive-CTE oracle with
    // x_dedup_cc, so the driver checks both algorithms against the same
    // DuckDB fixpoint; served from its own once-built ledger like the
    // propagation twin
    "x_dedup_cc_star" -> ((s: SparkSession, dir: String) => ccStarFor(s, dir)),

    // incremental ledger maintenance: docs with doc_id % 7 == 0 play the
    // arriving batch; the cached build holds the PRE-batch ledger (CC over
    // pairs with both endpoints outside the batch), and the entry measures
    // what an ingest pays — CC over the batch-sized CONTRACTED graph plus
    // one ledger remap join. The oracle is the x_dedup_cc recursive-CTE
    // fixpoint over the FULL pair graph, so "incremental == recompute" is
    // the checked contract itself.
    "x_dedup_cc_incremental" -> ((s: SparkSession, dir: String) => {
      val (oldLedger, newEdges) = ccIncrFor(s, dir)
      Components.incrementalComponents(oldLedger, newEdges)
    }),

    // cluster decisions with a QUALITY rule: per near-dup cluster keep the
    // highest-quality member (score desc, id asc) — the production form of
    // the dedup ledger (a min-id rule happily keeps a cluster's truncated
    // copy). Singletons survive by definition. Serves from the cached CC
    // labels; the argmax is a partially-aggregatable min(struct), so a
    // mega-cluster combines map-side — never a window over the cluster key
    "x_dedup_keep_best" -> ((s: SparkSession, dir: String) => {
      Components.keepBestInCluster(
        Tables.documents(s, dir), ccFor(s, dir),
        TextOps.qualityScore("text"))
    }),

    // n-gram NOVELTY score — the self-decontamination/diversity signal:
    // what fraction of a doc's distinct 3-grams appear in NO other doc
    // (df = 1)? High novelty = unique content; near-zero = assembled from
    // corpus boilerplate. One ngram-keyed shuffle (df build + join), then
    // a doc-keyed aggregation; docs with <3 words have no n-grams and are
    // absent, like the jaccard family
    "x_text_novelty" -> ((s: SparkSession, dir: String) => {
      val grams = Tables.documents(s, dir).select(col("doc_id"),
        explode(array_distinct(graft.ext.Decontaminate.ngrams("text", 3))).as("ng"))
      val dfreq = grams.groupBy(col("ng")).agg(count(lit(1)).as("df"))
      grams.join(dfreq, Seq("ng"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
        .withColumn("novelty",
          col("n_unique").cast("double") / col("n_grams"))
    }),

    // cross-source PHRASE overlap matrix: distinct 3-grams each SOURCE
    // PAIR shares — the provenance report that tells you which feeds echo
    // each other (whole-doc mirrors would show up in the exact/near-dup
    // family; phrase overlap catches partial copying and shared
    // boilerplate below those thresholds). The self-join is keyed on the
    // n-gram; (ng, source) is pre-distincted so the shuffle carries one
    // row per phrase per source, never per occurrence
    "x_source_ngram_overlap" -> ((s: SparkSession, dir: String) => {
      val t = Tables.documents(s, dir)
        .select(explode(array_distinct(
          graft.ext.Decontaminate.ngrams("text", 3))).as("ng"), col("source"))
        .distinct()
      t.select(col("ng"), col("source").as("source_a"))
        .join(t.select(col("ng"), col("source").as("source_b")), Seq("ng"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_shared"))
    }),

    // exact-substring duplication (Lee et al. 2022 ExactSubstr): maximal
    // character spans (≥ k=40) occurring ≥ 2 times corpus-wide — the
    // passage-level axis none of the document-level dedups see. Wide
    // shuffle is hash-first (8 B/window); window text moves only for the
    // duplicated sliver and is re-verified by string (collision-safe)
    "x_substr_spans" -> ((s: SparkSession, dir: String) => {
      graft.ext.SubstrDedup.spansFrom(substrOccFor(s, dir), k = 40)
    }),

    // per-doc duplicated-character fraction — the "frac chars in dup
    // text" quality gate; all docs report (zeros included)
    "x_substr_stats" -> ((s: SparkSession, dir: String) => {
      graft.ext.SubstrDedup.statsFrom(
        Tables.documents(s, dir), substrOccFor(s, dir), k = 40)
    }),

    // the removal plan under the keep-first-occurrence policy: cut spans
    // cover only non-first copies (corpus order by id, then position), so
    // one copy of every duplicated passage survives
    "x_substr_cut" -> ((s: SparkSession, dir: String) => {
      graft.ext.SubstrDedup.cutFrom(substrOccFor(s, dir), k = 40)
    }),

    // the cleaned corpus itself: cut spans excised, surviving segments
    // stitched in order — what actually ships to training after
    // ExactSubstr dedup (docs with nothing to cut pass through verbatim)
    "x_substr_clean" -> ((s: SparkSession, dir: String) => {
      graft.ext.SubstrDedup.cleanText(
        Tables.documents(s, dir), substrOccFor(s, dir), k = 40)
    }),

    // corpus-level duplication report (the single-row summary a dedup run
    // ships, like x_dedup_cluster_sizes): affected docs, span count,
    // duplicated chars, longest span, and the corpus-wide dup-char
    // fraction. Two bounded aggregations; the single-row crossJoin is
    // broadcast by construction (quadraticBySpec-allowlisted)
    "x_substr_summary" -> ((s: SparkSession, dir: String) => {
      val spans = graft.ext.SubstrDedup.spansFrom(substrOccFor(s, dir), k = 40)
      val agg = spans.agg(
        countDistinct(col("doc_id")).as("n_docs_affected"),
        count(lit(1)).as("n_spans"),
        sum(col("span_len")).as("dup_chars"),
        max(col("span_len")).as("max_span_len"))
      val corpus = Tables.documents(s, dir)
        .agg(sum(length(col("text")).cast("long")).as("corpus_chars"))
      agg.crossJoin(corpus)
        .withColumn("dup_char_fraction",
          col("dup_chars").cast("double") / col("corpus_chars"))
    }),

    // duplication-profile analytics over the same ledger: how big are the
    // near-dup clusters (singletons included — the honest denominator)?
    // Two tiny keyed aggregations on (16 B/row) labels; the report every
    // dedup run ships alongside its decisions
    "x_dedup_cluster_sizes" -> ((s: SparkSession, dir: String) => {
      Tables.documents(s, dir).select(col("doc_id"))
        .join(ccFor(s, dir), Seq("doc_id"), "left")
        .select(coalesce(col("component"), col("doc_id")).as("component"))
        .groupBy(col("component")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("csize") * col("n_clusters"))
    }),

    // per-node triangle counts over the SAME cached pair graph (degree-
    // ordered orientation: each triangle enumerated from its unique
    // two-out-edge apex, wedge fan-out capped at O(√m) — see ext.Triangles)
    // — the local-clustering signal that separates tight template families
    // from chains of borderline matches in the dedup ledger. Computed once
    // per corpus like the CC ledger (the counts serve both graph entries)
    "x_graph_triangles" -> ((s: SparkSession, dir: String) => triFor(s, dir)),

    // k-core membership over the cached jaccard pair graph: 6 peel rounds
    // at k=2 via the BOUNDED twin (kCoreRounds), whose unrolled-CTE oracle
    // computes the identical object whether or not the peel has converged
    // — correctness never depends on convergence depth; the fixpoint form
    // (KCore.kCore) is pinned ≡ the bounded twin in KCoreSpec
    "x_graph_kcore" -> ((s: SparkSession, dir: String) => kcoreFor(s, dir)),

    // weighted (tf-vector) cosine similarity self-join — AllPairs prefix
    // filter (suffix-norm bound, lossless) + integer-exact dot verify over
    // rare-token (df ≤ 100) sub-vectors; the multiset counterpart of the
    // jaccard join (see ext.CosineJoin's scale notes); built once per
    // corpus and served from the persisted pair set, like the jaccard
    // pair graph — build cost itemized as cosine_pair_graph
    "x_dedup_cosine" -> ((s: SparkSession, dir: String) => cosinePairsFor(s, dir)),

    // local clustering coefficient (2T/deg(deg−1)) for degree-≥2 nodes —
    // one keyed degree agg + a keyed join over the CACHED triangle counts
    "x_graph_clustering" -> ((s: SparkSession, dir: String) => {
      graft.ext.Triangles.clusteringCoefficients(ccPairsFor(s, dir),
        precomputedCounts = Some(triFor(s, dir)))
    }),

    // incremental dedup: a "new batch" (source src0) probed against the
    // rest of the corpus by content hash, exact text verify for candidates
    "x_dedup_incremental" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      ExactDedup.newAgainstCorpus(
        batch = docs.filter(col("source") === "src0"),
        corpus = docs.filter(col("source") =!= "src0"))
    }),

    // incremental dedup, MAINTAINED form: same probe, but the corpus side
    // is the content-hash ledger (folded in two waves by the build —
    // batch=/compact= SegmentStore layout), so the corpus is never
    // re-hashed. Must equal x_dedup_incremental exactly (maintained ==
    // recompute; the two entries share one oracle)
    "x_dedup_exact_ledger" -> ((s: SparkSession, dir: String) => {
      graft.streaming.ExactDedupLedgerStream.probe(s,
        exactLedgerFor(s, dir),
        Tables.documents(s, dir).filter(col("source") === "src0"))
    }),

    // n-gram (n=3) variant: string trigram sets, much stricter — catches
    // only genuine phrase-level near-dups (the hashed-shingle scale form
    // is MinHashDedup; this one is oracle-mirrorable)
    "x_dedup_jaccard_3gram" -> ((s: SparkSession, dir: String) => {
      owned(s, dir, "x_dedup_jaccard_3gram")(
        JaccardDedup.similarPairs(Tables.documents(s, dir), threshold = 0.2, ngram = 3))
    }),

    // asymmetric containment |A∩B|/|A| on trigram sets, corpus-wide: the
    // partial-copy detector — finds the planted near-dup family even
    // where symmetric Jaccard dilutes below threshold. Default maxDf=100
    // caps every posting list (linear candidates); the contract — pairs
    // sharing ≥1 trigram with df ≤ 100 — is mirrored in the oracle, and
    // at this fixture's df ceiling (25 at sf0.1) the cap changes nothing.
    "x_dedup_containment" -> ((s: SparkSession, dir: String) => {
      owned(s, dir, "x_dedup_containment")(
        JaccardDedup.containmentPairs(Tables.documents(s, dir), threshold = 0.4, ngram = 3))
    }),

    // MinHash signatures (deterministic; the LSH pair search is asserted in
    // MinHashDedupSpec with planted near-duplicates — approximate by nature)
    "x_dedup_minhash_sigs" -> ((s: SparkSession, dir: String) => {
      MinHashDedup.signatures(Tables.documents(s, dir))
        .select(col("doc_id"), size(col("shingles")).as("n_shingles"),
          element_at(col("sig"), 1).as("h0"), element_at(col("sig"), 128).as("h127"))
    }),

    "x_dedup_minhash_pairs" -> ((s: SparkSession, dir: String) => {
      MinHashDedup.nearDuplicates(Tables.documents(s, dir), minJaccard = 0.2)
    }),

    // incremental FUZZY dedup: new-batch docs near-duplicating nothing in
    // the corpus (cross-source MinHash banding + exact-Jaccard verify;
    // sketch math not SQL-expressible → rows-only, planted-dup unit)
    "x_dedup_minhash_incr" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      MinHashDedup.newAgainstCorpus(
        batch = docs.filter(col("source") === "src0"),
        corpus = docs.filter(col("source") =!= "src0"),
        minJaccard = 0.2)
    }),

    // md5-twin incremental fuzzy dedup, BATCH form: both sides sketched in
    // place — the recompute reference for the ledger entry below, and the
    // twin that gives the x_dedup_minhash_incr flow a full DuckDB oracle
    // (brute-force any-band + exact Jaccard over batch x corpus); sig
    // frames come persisted from the owned build cache, the core runs
    // storage-neutral (materialize = false — round-12 ADVICE)
    "x_dedup_minhash_md5_incr" -> ((s: SparkSession, dir: String) => {
      val (bs, cs) = minhashIncrSigsFor(s, dir)
      MinHashDedup.novelAgainstSigsMd5(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
          .select(col("doc_id")),
        bs, cs, minJaccard = 0.5, materialize = false)
    }),

    // md5-twin incremental fuzzy dedup, MAINTAINED form: the corpus side
    // is served from the signature ledger (folded in two waves by the
    // build — batch=/compact= SegmentStore layout), so the entry pays
    // the steady-state probe only: batch sketch + ONE band join + the
    // candidate verify. Must equal the batch form exactly (maintained ==
    // recompute; the two entries share one oracle)
    "x_dedup_minhash_ledger" -> ((s: SparkSession, dir: String) => {
      graft.streaming.MinHashLedgerStream.probe(s,
        minhashLedgerFor(s, dir),
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
        minJaccard = 0.5)
    }),

    "x_dedup_simhash_sigs" -> ((s: SparkSession, dir: String) => {
      SimHash.signatures(Tables.documents(s, dir))
    }),

    // SimHash pair search (chunk-pigeonhole banding, exact for hamming ≤ 3)
    // — deterministic output, but hamming distance over engine-specific
    // 64-bit hashes is not SQL-oracle-expressible → rows-only; exactness
    // vs a direct all-pairs hamming scan is pinned in SimHashSpec.
    "x_dedup_simhash_pairs" -> ((s: SparkSession, dir: String) => {
      SimHash.nearDuplicates(Tables.documents(s, dir), maxDist = 3)
    }),

    // md5-surrogate SimHash twins: same banding machinery as the entries
    // above, but over a cross-engine-computable token hash, so BOTH the
    // signature math and the pigeonhole pair search get full DuckDB oracles
    // (the pairs oracle is an all-pairs hamming scan — equal by pigeonhole
    // exactness for maxDist ≤ 3, so it pins the banding logic itself).
    "x_simhash_md5_sigs" -> ((s: SparkSession, dir: String) => {
      SimHash.signaturesMd5(Tables.documents(s, dir))
    }),

    "x_simhash_md5_pairs" -> ((s: SparkSession, dir: String) => {
      // the fresh sig frame is persisted INSIDE nearDuplicatesFromSigs
      // (it feeds both join sides) and released by the ownership slot on
      // the next invocation — not one leaked 16 B/row cache entry per rep
      SimHash.nearDuplicatesFromSigs(
        owned(s, dir, "x_simhash_md5_pairs")(
          SimHash.signaturesMd5(Tables.documents(s, dir))), maxDist = 3)
    }),

    // md5-twin incremental hamming dedup, BATCH form: both sides sketched
    // in place — the recompute reference for the ledger entry below
    // (brute-force batch x corpus hamming oracle); sig frames come
    // persisted from the owned build cache, the core runs storage-neutral
    // (materialize = false — round-12 ADVICE)
    "x_dedup_simhash_md5_incr" -> ((s: SparkSession, dir: String) => {
      val (bs, cs) = simhashIncrSigsFor(s, dir)
      SimHash.novelAgainstSigs(
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
          .select(col("doc_id")),
        bs, cs, maxDist = 3, materialize = false)
    }),

    // md5-twin incremental hamming dedup, MAINTAINED form: the corpus side
    // is 16 B/doc fingerprints served from the SimHash ledger (two waves,
    // batch=/compact= SegmentStore layout). Must equal the batch form
    // exactly (maintained == recompute; one shared oracle)
    "x_dedup_simhash_ledger" -> ((s: SparkSession, dir: String) => {
      graft.streaming.SimHashLedgerStream.probe(s,
        simhashLedgerFor(s, dir),
        Tables.documents(s, dir).filter(col("doc_id") % 10 === 0), maxDist = 3)
    }),

    // md5-surrogate MinHash twins (same treatment as the SimHash twins):
    // double-hashing minhash over md5-derived shingle hashes, mod 2^31-1 so
    // the arithmetic is overflow-free and bit-identical cross-engine. Sigs
    // are emitted exploded (doc_id, i, minhash) — scalar rows compare
    // cleanly where array columns stringify differently across engines.
    "x_minhash_md5_sigs" -> ((s: SparkSession, dir: String) => {
      MinHashDedup.signaturesMd5(Tables.documents(s, dir))
        .select(col("doc_id"), posexplode(col("sigs")).as(Seq("i", "minhash")))
    }),

    "x_minhash_md5_pairs" -> ((s: SparkSession, dir: String) => {
      MinHashDedup.nearDuplicatesMd5(Tables.documents(s, dir), minJaccard = 0.5)
    }),

    // MinHash estimator calibration (round 14): per banded candidate
    // pair, the sketch's Jaccard estimate (matching components / h) next
    // to the exact shingle Jaccard — the spread around the diagonal IS
    // the false-accept/reject rate of any threshold on the estimate. The
    // oracle brute-forces candidates + both numbers per pair
    "x_dedup_minhash_estimate" -> ((s: SparkSession, dir: String) => {
      owned(s, dir, "x_dedup_minhash_estimate")(
        MinHashDedup.estimateVsExactMd5(Tables.documents(s, dir)))
    }),

    // typed Aggregator (UDAF surface): per-source corpus MinHash sketch via
    // element-wise-min merge — signatures are mergeable, so shard sketches
    // combine without re-reading documents (rows-only; exactness of the
    // merge is asserted in MinHashMergeAggSpec)
    "x_dedup_minhash_merge" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val sigs = MinHashDedup.signatures(docs)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      val merged = sigs.select(col("source"), col("sig"))
        .as[(String, Array[Long])]
        .groupByKey(_._1).mapValues(_._2)
        .agg(new MinHashMergeAgg(128).toColumn.name("sig"))
      merged.toDF("source", "sig").select(
        col("source"),
        element_at(col("sig"), 1).as("h0"),
        element_at(col("sig"), 128).as("h127"))
    }),

    // ---- similarity search --------------------------------------------
    "x_sim_topk_brute" -> ((s: SparkSession, dir: String) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), k = 10)
    }),

    "x_sim_ann_lsh" -> ((s: SparkSession, dir: String) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 5), k = 10, nPlanes = 8)
    }),

    // md5-surrogate twin of the entry above (completing the round-7 twin
    // family: every LSH candidate-generation path is now cross-engine
    // pinned): the SAME bucketed-top-k tail, hyperplanes from
    // md5("0:plane:dim") — the oracle re-derives the signs IN SQL, so
    // bucketing, candidate join, scoring, and ranking all hash-match
    "x_sim_ann_lsh_md5" -> ((s: SparkSession, dir: String) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopKMd5(emb, emb.filter(col("vec_id") < 5), k = 10, nPlanes = 8)
    }),

    // probe-only (train + assignment come from the per-corpus cache above,
    // so the measured cost is the serving path, not Lloyd iterations)
    "x_sim_ann_ivf" -> ((s: SparkSession, dir: String) => {
      val (model, assigned) = ivfFor(s, dir)
      Similarity.ivfProbe(assigned, model,
        Tables.embeddings(s, dir).filter(col("vec_id") < 5), k = 10, nprobe = 4)
    }),

    // the 100 TB SERVING form: the assignment is persisted as a
    // cid-partitioned parquet layout and the probe's list ids become a
    // static partition filter — only nprobe/nlist of the files are read
    // (pruning pinned in ExtSpec's layout-serving test). Same model and
    // probe parameters as x_sim_ann_ivf, so results match it; rows-only
    // for the same reason (centroid training is engine-specific)
    "x_sim_ivf_layout" -> ((s: SparkSession, dir: String) => {
      val (model, _) = ivfFor(s, dir)
      val layout = ivfLayoutFor(s, dir)
      Similarity.ivfProbeFromLayout(s, layout, model,
        Tables.embeddings(s, dir).filter(col("vec_id") < 5), k = 10, nprobe = 4)
    }),

    // INCREMENTALLY MAINTAINED ANN index: embeddings folded in as three
    // waves through the append-shaped cid-partitioned maintainer (frozen
    // centroids, drift-gated — VectorIndexStream). The served relation
    // must equal the batch assignment over the full corpus; the oracle is
    // the trained-centroid nearest-assignment SQL, so maintained ==
    // recompute is the checked contract (the x_index_incremental shape on
    // the vector side). dim rides along to pin that vectors survived the
    // layout round-trip.
    "x_ann_incremental" -> ((s: SparkSession, dir: String) => {
      graft.streaming.VectorIndexStream.serve(s, annLedgerFor(s, dir))
        .select(col("n_id"), col("cid"), size(col("n_vec")).cast("int").as("dim"))
    }),

    // recall@10 of the IVF probe vs exact brute force, per query —
    // deterministic but engine-specific (depends on centroid training), so
    // rows-only; a lower bound is pinned in SimilaritySpec
    "x_sim_ivf_recall" -> ((s: SparkSession, dir: String) => {
      val (model, assigned) = ivfFor(s, dir)
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
      val ivf = Similarity.ivfProbe(assigned, model, q, k = 10, nprobe = 4)
        .select(col("q_id"), col("n_id"))
      val brute = Similarity.bruteForceTopK(emb, q, k = 10)
        .select(col("q_id"), col("n_id"))
      brute.join(ivf.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg((sum(coalesce(col("hit"), lit(0))) / 10.0).as("recall_at_10"))
    }),

    // ---- product quantization (compressed-vector serving) -------------
    // the encoded code table: 8 codes × 4 bits of information per 64-dim
    // vector — the column an ADC scan reads instead of the 256 B float
    // vector. Exploded (vec_id, sub, code) so the oracle compares scalars
    "x_pq_codes" -> ((s: SparkSession, dir: String) => {
      val (_, codes) = pqFor(s, dir)
      codes.select(col("n_id").as("vec_id"),
        posexplode(col("codes")).as(Seq("sub", "code")))
    }),

    // ADC probe: per-query m×ksub lookup table broadcast into one narrow
    // pass over the code column; approximate cosine, exact top-k semantics
    "x_pq_topk" -> ((s: SparkSession, dir: String) => {
      val (model, codes) = pqFor(s, dir)
      Pq.pqProbe(codes, model,
        Tables.embeddings(s, dir).filter(col("vec_id") < 5), k = 10)
    }),

    // shortlist-then-refine: ADC over-fetch (fetch=40, codes only), exact
    // cosine re-rank of the sliver via a KEYED join back to true vectors —
    // the serving shape a deployment actually runs (recall ≈ exact at 4k
    // over-fetch while the corpus scan stays 8 B/row)
    "x_pq_refine" -> ((s: SparkSession, dir: String) => {
      val (model, codes) = pqFor(s, dir)
      val emb = Tables.embeddings(s, dir)
      Pq.pqProbeRefined(codes, model, emb,
        emb.filter(col("vec_id") < 5), k = 10, fetch = 40)
    }),

    // IVF × PQ composed (FAISS-IVFPQ shape): the IVF probe prunes WHICH
    // rows are scanned (keyed join on the probed list ids), PQ prunes WHAT
    // each row costs (8-byte codes). Both model states come from the
    // cached builds; the oracle combines both literal sets end-to-end
    "x_pq_ivf_topk" -> ((s: SparkSession, dir: String) => {
      val (ivfModel, assigned) = ivfFor(s, dir)
      val (pqModel, codes) = pqFor(s, dir)
      Pq.pqIvfProbe(assigned, codes, pqModel, ivfModel,
        Tables.embeddings(s, dir).filter(col("vec_id") < 5), k = 10, nprobe = 4)
    }),

    // recall@10 of the compressed-domain probe vs exact brute force —
    // the number a deployment watches when tuning m/ksub
    "x_pq_recall" -> ((s: SparkSession, dir: String) => {
      val (model, codes) = pqFor(s, dir)
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
      val pq = Pq.pqProbe(codes, model, q, k = 10).select(col("q_id"), col("n_id"))
      val brute = Similarity.bruteForceTopK(emb, q, k = 10)
        .select(col("q_id"), col("n_id"))
      brute.join(pq.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg((sum(coalesce(col("hit"), lit(0))) / 10.0).as("recall_at_10"))
    }),

    // hard-negative triplet mining (contrastive embedder training data):
    // per anchor, positive = nearest vector, hard negative = nearest
    // vector strictly below min(tau, pos_cos) — boundary-hugging with a
    // guaranteed positive margin; both argmaxes are partial aggregations
    "x_mine_triplets" -> ((s: SparkSession, dir: String) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.mineTriplets(emb, emb.filter(col("vec_id") < 20), tau = 0.35)
    }),

    // ---- linear probe (train a scorer IN the engine) ------------------
    // the distributed half of training: the second-moment matrix over
    // z = [x, 1, label] — one pass, one keyed agg, exact decimal sums
    // (the repo's engine-portable aggregate), so TRAINING itself is
    // oracle-checked, not just the resulting scores
    "x_probe_moments" -> ((s: SparkSession, dir: String) => {
      graft.ext.LinearProbe.moments(Tables.embeddings(s, dir))
    }),

    // production moment path: ONE partial-aggregated buffer per task (the
    // MinHashMergeAgg pattern) instead of the exact twin's d²-exploded
    // rows; double accumulation is task-order-dependent in the last ulp →
    // rows-only, pinned against the exact twin in LinearProbeSpec
    "x_probe_moments_fast" -> ((s: SparkSession, dir: String) => {
      graft.ext.LinearProbe.momentsFast(Tables.embeddings(s, dir))
    }),

    // serving: score = round(w·x + b, 6) with the ridge-trained weights —
    // generated oracle embeds the identical literals (PQ-style)
    "x_probe_scores" -> ((s: SparkSession, dir: String) => {
      val (w, b) = probeFor(s, dir)
      graft.ext.LinearProbe.scores(Tables.embeddings(s, dir), w, b)
    }),

    // eval closes the train→score→eval loop: per-label prediction mean and
    // MAE of the ridge probe (regression read of the integer label). The
    // fixture's embeddings are near-random, so the honest outcome is
    // "probe ≈ global mean" — the METRIC is the deliverable, engine-exact
    // via the decimal-avg scheme
    "x_probe_eval" -> ((s: SparkSession, dir: String) => {
      val (w, b) = probeFor(s, dir)
      val emb = Tables.embeddings(s, dir)
      graft.ext.LinearProbe.scores(emb, w, b)
        .join(emb.select(col("vec_id"), col("label")), Seq("vec_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"), Util.davg(col("score")).as("mean_pred"),
          Util.davg(abs(col("score") - col("label"))).as("mae"))
    }),

    // ---- IRLS quality-gate training (the DCLM/FineWeb-Edu loop's
    // missing piece: train the binary classifier ITSELF in-engine) ------
    // per Newton round, the entire distributed computation — Hessian
    // upper triangle + gradient cells over the algebraic-sigmoid GLM with
    // the incoming weights frozen as literals — collected during the
    // build and served as model state (the x_unigram_train pattern); the
    // oracle re-derives every cell from the same frozen literals, so
    // TRAINING is hash-matched round by round, and the driver solve
    // consumes exactly the rounded values the oracle checks
    "x_classifier_train" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      irlsFor(s, dir).cells.toDF("round", "i", "j", "v")
    }),

    // the trained gate scoring the FULL corpus: round(mu(w·x + b), 6)
    // with the final weights as literals — one narrow pass
    "x_classifier_train_scores" -> ((s: SparkSession, dir: String) => {
      val m = irlsFor(s, dir)
      graft.ext.Irls.scores(Tables.embeddings(s, dir), m.w, m.b)
    }),

    // GATE EVALUATION (round-12 verdict item 6) — the measurement the
    // train→score→gate loop was missing: confusion counts + accuracy at
    // threshold 0.5 on a HOLDOUT slice (vec_id % 5 == 1, disjoint from
    // the % 5 == 0 training slice). Exact integer counts over the frozen
    // final weights (same literals discipline as the scores entry); one
    // narrow scoring pass + one global aggregate
    "x_classifier_eval" -> ((s: SparkSession, dir: String) => {
      val m = irlsFor(s, dir)
      val holdout = Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 1)
      graft.ext.Irls.scores(holdout, m.w, m.b)
        .join(holdout.select(col("vec_id"),
          (col("label") < 5).cast("int").as("y")), Seq("vec_id"))
        .agg(
          sum(when(col("quality") >= 0.5 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(col("quality") >= 0.5 && col("y") === 0, 1L).otherwise(0L)).as("fp"),
          sum(when(col("quality") < 0.5 && col("y") === 0, 1L).otherwise(0L)).as("tn"),
          sum(when(col("quality") < 0.5 && col("y") === 1, 1L).otherwise(0L)).as("fn"),
          count(lit(1)).as("n"),
          round(sum(when((col("quality") >= 0.5) === (col("y") === 1), 1L)
            .otherwise(0L)).cast("double") / count(lit(1)), 6).as("accuracy"))
    }),

    // CALIBRATION of the trained gate (the reliability-curve data a
    // threshold choice is made from): holdout scores binned into deciles,
    // per bin exact counts + mean predicted quality (decimal-sum scheme)
    // vs the empirical positive rate. Same frozen-weight literals
    // discipline as eval/scores; one narrow scoring pass + one 10-row
    // aggregate. bin = floor(quality·10) clamps to 9 — quality is the
    // 6-decimal-rounded algebraic sigmoid, so the double product and
    // floor are bit-identical cross-engine
    "x_classifier_calibration" -> ((s: SparkSession, dir: String) => {
      val m = irlsFor(s, dir)
      val holdout = Tables.embeddings(s, dir).filter(col("vec_id") % 5 === 1)
      graft.ext.Irls.scores(holdout, m.w, m.b)
        .join(holdout.select(col("vec_id"),
          (col("label") < 5).cast("long").as("y")), Seq("vec_id"))
        .withColumn("bin", least(floor(col("quality") * 10), lit(9L)).cast("int"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("y")).as("n_pos"),
          Util.davg(col("quality")).as("mean_pred"),
          round(sum(col("y")).cast("double") / count(lit(1)), 6).as("pos_rate"))
    }),

    // SemDeDup: k-means cluster (the cached IVF model — clustering and ANN
    // share one build), then within-cluster cosine pruning; the pair join
    // is KEYED on cid, which is the algorithm's whole scale story. Oracle
    // is generated with the trained centroid literals (semOracle below)
    "x_dedup_semantic" -> ((s: SparkSession, dir: String) => {
      val (_, assigned) = ivfFor(s, dir)
      Similarity.semDedup(assigned, threshold = 0.4)
    }),

    // incremental SemDeDup, served from MAINTAINED state: the batch
    // (vec_id % 10 = 0) is assigned at probe time against the frozen
    // model; the corpus side comes from the VectorIndexStream layout the
    // ann_index_ledger build already maintains (filtered to the corpus
    // ids — the pre-fold view of the index, since assignment is
    // per-vector pure). Cost = batch assignment + ONE cid-keyed join;
    // the corpus is never re-assigned or re-read from the raw table.
    // Oracle is generated with the trained centroid literals (semIncr
    // below) — maintained == recompute, cross-engine
    "x_dedup_semantic_incremental" -> ((s: SparkSession, dir: String) => {
      val (model, _) = ivfFor(s, dir)
      val batch = Similarity.ivfAssign(
        Tables.embeddings(s, dir).filter(col("vec_id") % 10 === 0), model)
      val corpusState = graft.streaming.VectorIndexStream
        .serve(s, annLedgerFor(s, dir))
        .filter(col("n_id") % 10 =!= 0)
      Similarity.semNovelAgainstAssigned(batch, corpusState, threshold = 0.4)
    }),

    // SemDeDup RECALL vs the cluster-free greedy rule: the exact all-pairs
    // form drops a doc iff ANY smaller-id doc is >= threshold-similar;
    // SemDeDup only sees same-cluster pairs, so its misses are exactly the
    // cross-cluster near-dup pairs — the number this entry measures (the
    // paper's quality trade made observable). sem-dropped ⊆ true-dropped
    // by construction (same threshold, same rounding), so recall is the
    // whole story — and it is itself hash-matched via the trained-centroid
    // dynamic oracle (semRecall below).
    "x_dedup_semantic_recall" -> ((s: SparkSession, dir: String) => {
      val emb = Tables.embeddings(s, dir)
      val trueDropped = embedTruthFor(s, dir)
        .select(col("vec_b").as("vec_id")).distinct()
      val (_, assigned) = ivfFor(s, dir)
      val kept = Similarity.semDedup(assigned, threshold = 0.4).select("vec_id")
      val semDropped = emb.select(col("vec_id"))
        .join(kept, Seq("vec_id"), "left_anti").withColumn("hit", lit(1))
      trueDropped.join(semDropped, Seq("vec_id"), "left")
        // outer coalesce: sum over an EMPTY truth set is NULL in Spark but
        // DuckDB's count() oracle yields 0 — the empty-corpus row must
        // match (round-10 ADVICE)
        .agg(count(lit(1)).as("n_true_dropped"),
          coalesce(sum(coalesce(col("hit"), lit(0))), lit(0L))
            .cast("long").as("n_sem_dropped"))
        .withColumn("recall",
          when(col("n_true_dropped") === 0, lit(1.0))
            .otherwise(col("n_sem_dropped").cast("double") / col("n_true_dropped")))
    }),

    // SEMANTIC decontamination: the embedding-level complement of the
    // n-gram x_decontaminate (catches paraphrased eval leakage that
    // shares no n-gram) — eval = the vec_id % 10 = 0 slice, corpus = the
    // rest, both served from the ONE cached IVF assignment; a corpus
    // vector is contaminated when a same-cluster eval vector reaches
    // cosine 0.4, reported with hit count + max similarity (the audit
    // evidence). ONE cid-keyed join against a broadcast-sized eval side.
    // Oracle is generated with the trained centroid literals (decontamSem
    // in ivfOracles) — assignment + the cross-split rule recomputed from
    // the embeddings table alone
    "x_decontam_semantic" -> ((s: SparkSession, dir: String) => {
      val (_, assigned) = ivfFor(s, dir)
      Similarity.semContamination(
        assigned.filter(col("n_id") % 10 =!= 0),
        assigned.filter(col("n_id") % 10 === 0), threshold = 0.4)
    }),

    // SemDeDup served with the PRODUCTION cluster-count knob (autoNlist —
    // k ∝ corpus size, expected occupancy pinned at ~128): the pinned-
    // nlist twin above keeps its centroids comparable across SFs at the
    // cost of per-cluster occupancy growing with the corpus — the
    // registry's worst sf1 slopes. This entry is the scale-path
    // measurement the round-13 verdict asked for: same semDedup join,
    // same trained-centroid dynamic oracle, nlist scaled with the corpus
    // so pair work stays ~linear at any SF (slope recorded in BENCH.md)
    "x_dedup_semantic_auto" -> ((s: SparkSession, dir: String) => {
      val (_, assigned) = autoIvfFor(s, dir)
      Similarity.semDedup(assigned, threshold = 0.4)
    }),

    // semantic decontamination on the autoNlist model — the production
    // serving shape of x_decontam_semantic (same cid-keyed join against
    // the broadcast-sized eval slice; cluster occupancy held constant by
    // the corpus-scaled nlist instead of growing with the corpus)
    "x_decontam_semantic_auto" -> ((s: SparkSession, dir: String) => {
      val (_, assigned) = autoIvfFor(s, dir)
      Similarity.semContamination(
        assigned.filter(col("n_id") % 10 =!= 0),
        assigned.filter(col("n_id") % 10 === 0), threshold = 0.4)
    }),

    // train/eval decontamination: docs from source 'src0' stand in for the
    // eval benchmark; every other doc sharing a 3-gram with it is flagged.
    // Bloom-prescreened corpus side, exact-join verify — output is exact
    "x_decontaminate" -> ((s: SparkSession, dir: String) => {
      val d = Tables.documents(s, dir)
      graft.ext.Decontaminate.contaminated(
        d.filter(col("source") =!= "src0"),
        d.filter(col("source") === "src0"), n = 3)
    }),

    // contamination FRACTION: per-train-doc overlap severity (shared
    // distinct 3-grams / total distinct 3-grams) with clean docs at 0.0 —
    // the thresholdable form of x_decontaminate (same bloom-prescreened
    // numerator; denominator is a map-only pass)
    "x_decontam_fraction" -> ((s: SparkSession, dir: String) => {
      val d = Tables.documents(s, dir)
      graft.ext.Decontaminate.contaminationFraction(
        d.filter(col("source") =!= "src0"),
        d.filter(col("source") === "src0"), n = 3)
    }),

    // INCREMENTAL decontamination: the training corpus folds into the
    // n-gram-postings ledger in two waves (doc_id % 7 plays the arriving
    // ingest); the entry pays only the EVAL-SIDE PROBE — benchmark
    // explode + one keyed join against the versioned ledger, no corpus pass —
    // and must equal the batch operator exactly (x_decontaminate's
    // oracle, verbatim: maintained == recompute is the checked contract)
    "x_decontam_incremental" -> ((s: SparkSession, dir: String) => {
      graft.streaming.DecontamLedgerStream.probe(s,
        decontamLedgerFor(s, dir),
        Tables.documents(s, dir).filter(col("source") === "src0"), n = 3)
    }),

    // NORMALIZED decontamination: the eval side is deliberately perturbed
    // (uppercased, ", " injected at every word boundary) so plain 3-gram
    // matching would find ZERO overlaps; the normalize path (lowercase,
    // punctuation stripped, whitespace-robust tokens) must recover the
    // true leaks — the match rule published pipelines actually use
    "x_decontaminate_normalized" -> ((s: SparkSession, dir: String) => {
      val d = Tables.documents(s, dir)
      graft.ext.Decontaminate.contaminated(
        d.filter(col("source") =!= "src0"),
        d.filter(col("source") === "src0")
          .withColumn("text", replace(upper(col("text")), lit(" "), lit(", "))),
        n = 3, normalize = true)
    }),

    // whitespace-ROBUST text stats: the fixture text is deliberately
    // messed up (leading " \t", every space doubled, trailing "\n ") and
    // the ws tokenizer must still count the TRUE words, while the naive
    // single-space split's counts inflate with phantom empty tokens —
    // both are emitted so the oracle pins the divergence itself
    "x_text_stats_ws" -> ((s: SparkSession, dir: String) => {
      val mt = concat(lit(" \t"), replace(col("text"), lit(" "), lit("  ")), lit("\n "))
      val ws = TextOps.wordsWs(col("mt"))
      Tables.documents(s, dir)
        .withColumn("mt", mt)
        .select(col("doc_id"),
          size(ws).as("n_words_ws"),
          size(TextOps.words(col("mt"))).as("n_words_naive"),
          size(array_distinct(ws)).as("n_distinct_ws"),
          size(graft.ext.Decontaminate.ngramsOf(ws, 2)).as("n_2grams_ws"),
          // n-gram CONTENT, not just counts: the first three ws 2-grams,
          // serialized — proves the tokens recovered from the messy text
          // are the clean ones, cross-engine
          array_join(slice(graft.ext.Decontaminate.ngramsOf(ws, 2), 1, 3), "|")
            .as("first_2grams"))
    }),

    // max_seq_len chunking: oversized docs explode into <=64-token chunks
    // (within-row, shuffle-free); chunk TEXT itself is in the output, so
    // the oracle checks content reassembly, not just counts
    "x_pack_chunks" -> ((s: SparkSession, dir: String) => {
      graft.ext.Packing.splitOversized(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", budget = 64)
        .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"), col("chunk_text"))
    }),

    // sequence packing: docs -> fixed-token-budget training sequences in
    // doc_id order (contiguous fill). The running total is a two-phase
    // distributed prefix sum — per-range-partition windows + broadcast
    // partition offsets; the only unpartitioned window in the plan runs
    // over ≤ numPartitions offset rows, never over data. Integer-exact,
    // oracle = a plain SUM OVER (ORDER BY) window in DuckDB.
    "x_pack_sequences" -> ((s: SparkSession, dir: String) => {
      graft.ext.Packing.packBins(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextOps.nWords(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 2048L)
    }),

    // sqrt-temperature domain mixing: per-source targets are integer-
    // exact (floor-sqrt weights, integer division), selection is the
    // first n_d per source under the md5 order via the per-group
    // distributed prefix rank — never a per-domain window
    "x_mix_temperature" -> ((s: SparkSession, dir: String) => {
      graft.ops.Sampling.temperatureMixSqrt(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "source", total = 300L)
    }),

    // deterministic interleaved mixture schedule: Hamilton quotas over
    // source counts, md5-ranked per-source selection, integer even-spread
    // positions — consume in (pos, source, mix_rank) order and no batch
    // is one domain
    "x_mix_schedule" -> ((s: SparkSession, dir: String) => {
      graft.ops.Sampling.interleaveSchedule(
        Tables.documents(s, dir).select(col("doc_id"), col("source")),
        "source", total = 300L)
    }),

    // largest-remainder (Hamilton) quota allocation: per-source integer
    // quotas proportional to char mass, summing EXACTLY to the budget —
    // all integer arithmetic (floor div + remainder rank), windows only
    // over the aggregated source table
    "x_mix_quota" -> ((s: SparkSession, dir: String) => {
      val counts = Tables.documents(s, dir)
        .groupBy(col("source")).agg(sum(col("n_chars")).as("w"))
      graft.ops.Sampling.allocateQuotas(counts, "source", "w", total = 1000L)
    }),

    // deterministic epoch-3 training-order shuffle: positions are the
    // rank of md5("3:" || doc_id) — an exact permutation both engines
    // compute identically; the rank is the distributed prefix sum, never
    // a global row_number window
    "x_shuffle_epoch" -> ((s: SparkSession, dir: String) => {
      graft.ext.Packing.epochShuffle(
        Tables.documents(s, dir).select(col("doc_id")), "doc_id", epoch = 3)
    }),

    // curriculum ordering: quality quartiles (phase 1 = best docs),
    // each phase independently md5-shuffled; the phase cut is rank
    // arithmetic, not ntile (remainder rules differ across engines)
    "x_curriculum" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        (TextOps.nDistinctWords(col("text")).cast("double") /
          TextOps.nWords(col("text"))).as("score"))
      graft.pipeline.DataPrep.curriculumOrder(docs, "score", phases = 4, epoch = 7)
        .select(col("doc_id"), col("phase"), col("phase_pos"))
    }),

    // incremental vocabulary maintenance: vocab(corpus minus src0) merged
    // with the src0 batch must equal a from-scratch vocab of everything —
    // the oracle IS the full recompute
    "x_text_vocab_incr" -> ((s: SparkSession, dir: String) => {
      val d = Tables.documents(s, dir)
      TextOps.mergeVocabCounts(
        TextOps.vocabCounts(d.filter(col("source") =!= "src0")),
        d.filter(col("source") === "src0"))
    }),

    // the packing manifest a data loader consumes: per sequence, the
    // ordered member docs, counts, and filled tokens — groups are bounded
    // by the budget, so the collected id list is safe by construction
    "x_pack_manifest" -> ((s: SparkSession, dir: String) => {
      graft.ext.Packing.packManifest(graft.ext.Packing.packBins(
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextOps.nWords(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", budget = 2048L))
    }),

    // LOADER SHARD EXPORT (io.Shards): the interleaved mixture schedule
    // packs into 512-token sequences IN CONSUMPTION ORDER, sequences
    // group 8-per-shard, and the shard files + manifest are WRITTEN
    // (data job then manifest job, dual-_SUCCESS crash gating) once per
    // corpus; the entry reads the written manifest back, so the oracle
    // checks the whole interleave→pack→shard→write→read chain
    "x_pack_shards" -> ((s: SparkSession, dir: String) => {
      graft.io.Shards.readManifest(s, shardExportFor(s, dir))
    }),

    // the loader's READ contract on the same written export, checked
    // distributed (Shards.validateReadPath): per-shard files concatenate
    // in name order back to schedule order (zero range overlaps) and the
    // manifest recomputed from the read bytes matches the stored one.
    // n_files is dropped from the entry (file count is a commit-layout
    // detail, not contract); the oracle derives n_shards from the same
    // packing CTEs and pins both violation counts at zero
    "x_pack_shards_read" -> ((s: SparkSession, dir: String) => {
      graft.io.Shards.validateReadPath(s, shardExportFor(s, dir))
        .select(col("n_shards"), col("order_violations"),
          col("manifest_mismatches"))
    }),

    // encoding hygiene over adversarially-dirtied text: controls +
    // zero-widths injected, every space swapped for NBSP — cleaning must
    // restore the printable text byte-identically in both engines
    "x_text_clean_unicode" -> ((s: SparkSession, dir: String) => {
      val mt = concat(lit("\u0007bom:\uFEFF"),
        replace(col("text"), lit(" "), lit("\u00A0")),
        lit("\r\ttail\u0002"))
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.cleanUnicode(mt).as("clean_text"),
          length(mt).cast("int").as("n_raw"),
          length(TextOps.cleanUnicode(mt)).cast("int").as("n_clean"))
    }),

    // corpus-boilerplate spans: doc-distinct 3-grams with document
    // frequency >= 5 — the df shuffle carries 8-byte hashes, span text
    // moves only for the hot sliver (ExactDedup idiom; see Boilerplate)
    "x_text_boilerplate" -> ((s: SparkSession, dir: String) => {
      graft.ext.Boilerplate.spans(Tables.documents(s, dir), n = 3, minDf = 5L)
    }),

    // per-document boilerplate coverage: distinct spans, boilerplate hits,
    // and their ratio (exact-integer division — bit-identical cross-engine)
    "x_text_boiler_coverage" -> ((s: SparkSession, dir: String) => {
      graft.ext.Boilerplate.coverage(Tables.documents(s, dir), n = 3, minDf = 5L)
    }),

    // boilerplate coverage, MAINTAINED form: span document-frequency is
    // doc-distinct and batches carry disjoint docs, so df is ADDITIVE —
    // the build folds the corpus's per-batch span counts (SegmentStore,
    // threshold applied at SERVE time), and the probe scores the src0
    // slice against the summed hot sliver with the batch operator's join
    // semantics. Oracle is x_text_boiler_coverage's + the slice predicate
    // (maintained == recompute is the checked contract)
    "x_text_boiler_ledger" -> ((s: SparkSession, dir: String) => {
      graft.streaming.BoilerLedgerStream.probe(s, boilerLedgerFor(s, dir),
        Tables.documents(s, dir).filter(col("source") === "src0"),
        n = 3, minDf = 5L)
    }),

    // line-level boilerplate REMOVAL: the fixture text is single-line, so
    // the query plants the structure removal must recover — a footer every
    // doc carries TWICE, a per-source banner (shared by ~1/5 of docs), and
    // a unique DOC line; cleaning must excise both repeated lines from all
    // docs and keep content + unique lines byte-identical, in order
    "x_text_boiler_remove" -> ((s: SparkSession, dir: String) => {
      val mt = concat(col("text"), lit("\nCOPYRIGHT FOOTER\nSRC "), col("source"),
        lit("\nDOC "), col("doc_id").cast("string"), lit("\nCOPYRIGHT FOOTER"))
      graft.ext.Boilerplate.removeLines(
        Tables.documents(s, dir).withColumn("mt", mt),
        textCol = "mt", minDf = 10L)
    }),

    // per-LANGUAGE p25 quality gate on the distinct-token ratio: keep docs
    // at/above their own language's quantile (exact mode = the oracle twin;
    // approx_percentile is the default 100 TB path, pinned equal on small
    // data in DataPrepOpsSpec)
    "x_quality_gate_lang" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        (TextOps.nDistinctWords(col("text")).cast("double") /
          TextOps.nWords(col("text"))).as("score"))
      graft.pipeline.DataPrep
        .languageQualityGate(docs, "lang", "score", 0.25, exact = true)
    }),

    // token-budget selection: the best-quality 10k-token prefix of the
    // corpus (score desc, id tiebreak); the running total is the
    // distributed prefix sum, never a global data window. Selection is
    // decided by integer token sums — the float score only orders
    "x_budget_select" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        (TextOps.nDistinctWords(col("text")).cast("double") /
          TextOps.nWords(col("text"))).as("score"),
        TextOps.nWords(col("text")).cast("long").as("n_tokens"))
      graft.pipeline.DataPrep.tokenBudgetSelect(docs, 10000L, "score", "n_tokens")
    }),

    // sliding context windows: budget-64 windows every 32 tokens (50%
    // overlap), the eval-time long-doc rule. Window TEXT is in the output
    // so the oracle checks overlap content, not just counts
    "x_pack_windows" -> ((s: SparkSession, dir: String) => {
      graft.ext.Packing.slidingWindows(
        Tables.documents(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", budget = 64, stride = 32)
        .select(col("doc_id"), col("win_id"), col("win_tokens"), col("win_text"))
    }),

    // Gopher-style repetition signals (top-2-gram fraction, distinct ratio)
    // — within-row, no shuffle, exact integer/division arithmetic. The
    // n-gram array and the O(d²) top count are each computed ONCE in their
    // own projection (the higher-order exprs are CodegenFallback — no CSE)
    "x_text_repetition" -> ((s: SparkSession, dir: String) => {
      Tables.documents(s, dir)
        .withColumn("gs", graft.ext.Decontaminate.ngrams("text", 2))
        .withColumn("top2_count", TextOps.topNgramCountOf(col("gs")))
        .filter(size(col("gs")) >= 1)
        .select(col("doc_id"),
          size(col("gs")).as("n_2grams"),
          col("top2_count"),
          (col("top2_count").cast("double") / size(col("gs"))).as("top2_frac"),
          (size(array_distinct(col("gs"))).cast("double") / size(col("gs"))).as("distinct2_ratio"))
    }),

    // per-domain quota: ≤ 20 docs per source, quality-priority — corpus
    // balancing via TopKAgg's k-bounded partial aggregation + semi join
    // (NO per-domain window: that plan is pinned OUT in PlanShapeSpec)
    "x_domain_quota" -> ((s: SparkSession, dir: String) => {
      graft.pipeline.DataPrep.domainQuota(Tables.documents(s, dir), "source", 20)
        .select("doc_id", "source", "lang", "n_chars")
    }),

    // stratified rebalancing: keep 1-in-3 of the dominant 'en' stratum,
    // 1-in-2 of 'de', everything else whole — deterministic modulo rule
    "x_sample_stratified" -> ((s: SparkSession, dir: String) => {
      graft.ops.Sampling.stratifiedByModulo(
        Tables.documents(s, dir), col("lang"), col("doc_id"),
        Map("en" -> 3, "de" -> 2))
        .select("doc_id", "lang", "source")
    }),

    // incrementally maintained rollup (materialized-view maintenance):
    // three event waves folded into a per-(type, hour-of-day) partial-
    // aggregate state table at batch cost; the served finalization must
    // equal a direct aggregate of the WHOLE history — exact, because the
    // stored sum is associative decimal (see ext.AggLedger)
    "x_agg_incremental" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.types.{LongType, StringType}
      graft.ext.AggLedger.serve(s, aggLedgerFor(s, dir),
        keys = Seq("event_type", "hr"), keyTypes = Seq(StringType, LongType))
    }),

    // TIME TRAVEL over the maintained rollup: serve the ledger exactly as
    // of batch 1 (waves 0–1 of the 3-wave build; retention keeps every
    // version) — the oracle aggregates the SAME deterministic subset
    // directly, so the past state is hash-pinned, not just readable
    "x_state_time_travel" -> ((s: SparkSession, dir: String) => {
      import org.apache.spark.sql.types.{LongType, StringType}
      graft.ext.AggLedger.ledger(Seq("event_type", "hr"), Seq(StringType, LongType))
        .atVersion(s, aggLedgerFor(s, dir), 1L)
    }),

    // exactly-k-per-group deterministic sample ("reservoir" with
    // hash-derived draws): k-bounded partial aggregation, never a window
    // over the group — see ops.Sampling.sampleKPerGroup's scale note
    "x_sample_group_reservoir" -> ((s: SparkSession, dir: String) => {
      graft.ops.Sampling.sampleKPerGroup(
        Tables.documents(s, dir), "source", "doc_id", k = 7)
    }),

    // embedding-cosine near-dup pairs, exact form — quadratic by nature
    // (dimension-table scale / the oracle for the LSH form below)
    "x_dedup_embed_exact" -> ((s: SparkSession, dir: String) => {
      embedTruthFor(s, dir)
    }),

    // banded-LSH near-dup pairs: one shuffle on (band, bucket), exact
    // verify inside buckets — output ⊆ exact by construction (subset +
    // planted-dup recall pinned in SimilaritySpec); rows-only because
    // recall is probabilistic in the sketch family. (bands, planes) is the
    // recall/candidate-volume dial; 8 bands × 8 planes catches a true
    // near-duplicate (cos ≥ 0.95) with p ≈ 0.99 while keeping buckets
    // selective — at this fixture's deliberately weak 0.4 threshold (the
    // embeddings are uniform random; no planted near-dups exist) the catch
    // rate is ~0.2 by the same formula, exactly as banding math predicts.
    "x_dedup_embed_lsh" -> ((s: SparkSession, dir: String) => {
      Similarity.embedPairsLsh(Tables.embeddings(s, dir), threshold = 0.4,
        nPlanes = 8, nBands = 8)
    }),

    // md5-surrogate twin of the entry above (round-7 twin family): same
    // banding tail, hyperplanes derived from md5("band:plane:dim") — a hash
    // family BOTH engines can compute, so bucket assignment, candidate
    // generation, and the exact verify all get a hash-matched oracle row
    // (the native mix64 sketch stays rows-only by nature)
    "x_embed_lsh_md5_pairs" -> ((s: SparkSession, dir: String) => {
      Similarity.embedPairsLshMd5(Tables.embeddings(s, dir), threshold = 0.4,
        nPlanes = 8, nBands = 4)
    }),

    // per-group top-k via bounded-buffer partial aggregation — the exchange
    // carries ≤ k rows per group per task instead of the whole table (the
    // window-row_number twin is q8; outputs identical)
    "x_topk_agg" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      graft.Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_totalprice"), col("o_orderkey"))
        .as[(Long, Double, Long)]
        .groupByKey(_._1).mapValues(r => (r._2, r._3))
        .agg(new graft.ext.TopKAgg(3).toColumn.name("top"))
        .toDF("o_custkey", "top")
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), col("col._2").as("o_orderkey"),
          col("col._1").as("o_totalprice"), (col("pos") + 1).cast("int").as("rk"))
    }),

    // ---- sampling / splitting -----------------------------------------
    // systematic 1-in-7 modulo sample (the oracle-expressible member of
    // the sampling family; production form is hash-based, below)
    "x_sample_mod" -> ((s: SparkSession, dir: String) => {
      graft.ops.Sampling.byModulo(Tables.documents(s, dir), col("doc_id"), 7)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // deterministic IMPORTANCE sampling: keep each doc with probability
    // quality_score/4 (DSIR-style acceptance ∝ importance weight), decided
    // by an md5-hex compare — reproducible under retries AND SQL-oracle-
    // checkable (the engine-portable member of the weighted family, like
    // x_sample_mod is for Bernoulli). Map-side filter; no shuffle.
    "x_sample_importance" -> ((s: SparkSession, dir: String) => {
      val scored = Tables.documents(s, dir)
        .withColumn("score", TextOps.qualityScore("text"))
      graft.ops.Sampling.byWeight(scored, col("doc_id"), col("score") / 4.0)
        .select(col("doc_id"), col("lang"), col("source"), col("score"))
    }),

    // deterministic split sizes via the md5-banded rule — the exact
    // per-split assignment is recomputable by any engine with md5, so
    // (unlike the xxhash64 splitByHash twin) this is fully oracle-checked:
    // cuts at 0.8/0.9 of the 16-bit space are the hex literals cccc/e666
    "x_sample_split" -> ((s: SparkSession, dir: String) => {
      graft.ops.Sampling.splitByMd5(Tables.documents(s, dir), col("doc_id"),
        weights = Seq(0.8, 0.1, 0.1), names = Seq("train", "val", "test"))
        .groupBy(col("split")).agg(count(lit(1)).as("n"))
    }),

    // column PROFILE — the data-quality report (Deequ/dbt-test family):
    // per-column null count + exact distinct count over the orders table,
    // all columns in ONE scan (multi-distinct expands via Spark's Expand
    // operator — the exact form; a 100 TB profiler would swap in
    // approx_count_distinct per column, same plan shape minus Expand)
    "x_profile_columns" -> ((s: SparkSession, dir: String) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
      val aggs = cols.flatMap(c => Seq(
        sum(col(c).isNull.cast("long")).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__distinct")))
      val one = Tables.orders(s, dir).agg(aggs.head, aggs.tail: _*)
      cols.map { c =>
        one.select(lit(c).as("column"),
          col(s"${c}__nulls").as("n_nulls"),
          col(s"${c}__distinct").as("n_distinct"))
      }.reduce(_ unionByName _)
    }),

    // constraint CHECKS — the publish gate (key uniqueness, completeness,
    // referential integrity), each an exact count over keyed plans:
    // duplicate keys via a hash-grouped HAVING, orphans via left_anti
    "x_quality_checks" -> ((s: SparkSession, dir: String) => {
      val orders = Tables.orders(s, dir)
      val dupKeys = orders.groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1)
        .agg(count(lit(1)).as("v")).select(lit("dup_orderkeys").as("check"), col("v"))
      val nullKeys = orders
        .agg(sum(col("o_custkey").isNull.cast("long")).as("v"))
        .select(lit("null_custkeys").as("check"), col("v"))
      val orphans = orders.join(Tables.customer(s, dir)
          .select(col("c_custkey").as("o_custkey")), Seq("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("v")).select(lit("orphan_orders").as("check"), col("v"))
      dupKeys.unionByName(nullKeys).unionByName(orphans)
    }),

    // key-SKEW profile — the "should this key be salted" diagnostic a
    // shuffle-heavy deployment runs before picking join/agg strategies:
    // per-key counts reduced to n_keys / max / max-over-mean / top-10
    // share. One keyed aggregation; the two single-row summaries combine
    // via a broadcast cross join (1×1, by-spec allowlisted)
    "x_skew_profile" -> ((s: SparkSession, dir: String) => {
      val counts = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      val top10 = counts.orderBy(col("n").desc, col("user_id")).limit(10)
        .agg(sum(col("n")).as("top10_n"))
      counts.agg(count(lit(1)).as("n_keys"), sum(col("n")).as("n_rows"),
          max(col("n")).as("max_n"))
        .crossJoin(broadcast(top10))
        .select(col("n_keys"), col("n_rows"), col("max_n"),
          (col("max_n").cast("double") * col("n_keys") / col("n_rows"))
            .as("max_over_mean"),
          (col("top10_n").cast("double") / col("n_rows")).as("top10_share"))
    }),

    // token CO-OCCURRENCE counts — the PMI / embedding-prep primitive:
    // document-level co-occurrence of the 10 globally-commonest tokens
    // (tf desc, token tiebreak). The vocabulary restriction comes FIRST
    // (broadcast semi join), so per-doc pair fan-out is bounded at
    // C(10,2)=45 — never quadratic in document length; pair counting is
    // one keyed aggregation over (tok_a < tok_b) pairs
    "x_text_cooccur" -> ((s: SparkSession, dir: String) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok")).limit(10).select(col("tok"))
      val kept = toks.join(broadcast(top), Seq("tok"))
      kept.select(col("doc_id"), col("tok").as("tok_a"))
        .join(kept.select(col("doc_id"), col("tok").as("tok_b")), Seq("doc_id"))
        .filter(col("tok_a") < col("tok_b"))
        .groupBy(col("tok_a"), col("tok_b"))
        .agg(count(lit(1)).as("n_docs"))
    }),

    // compression-ratio quality signal (deflate level 6, one codec per
    // partition): the repetitiveness proxy Gopher-family pipelines gate
    // on — rows-only (a JVM codec has no SQL mirror; orderings pinned in
    // TextOpsSpec)
    "x_text_compress" -> ((s: SparkSession, dir: String) => {
      TextOps.compressionStats(Tables.documents(s, dir), "doc_id", "text")
    }),

    // BPE training, round-1 signal: adjacent symbol-pair counts over the
    // symbolized word-frequency vocab (chars + </w>), top 20 fully
    // tiebroken — the aggregation every merge round of tokenizer training
    // re-runs; oracle-checked (characters + correlated generate_series)
    "x_bpe_pairs" -> ((s: SparkSession, dir: String) => {
      graft.ext.Bpe.pairCounts(
          graft.ext.Bpe.symbolized(Tables.documents(s, dir), "text"))
        .orderBy(col("cnt").desc, col("sym_a"), col("sym_b")).limit(20)
    }),

    // full BPE TRAINING (10 merges on the corpus vocab) — the merge list
    // IS the tokenizer model; deterministic (count desc, lexicographic
    // tiebreak) AND oracle-checked: the rounds unroll into chained
    // MATERIALIZED CTEs (bpeMergesOracle — the pagerank recipe), also
    // pinned against hand-computed merges in BpeSpec
    "x_bpe_merges" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      bpeFor(s, dir).zipWithIndex
        .map { case ((a, b, c), i) => (i + 1, a, b, c) }
        .toDF("rank", "sym_a", "sym_b", "cnt")
    }),

    // encoding with the trained merges: per-doc token counts + the first
    // word's tokens; the per-row greedy encode loop is the tokenizer hot
    // path, oracle-checked by applying the merge list in rank order as
    // delimited-string replaces (bpeTokenizeOracle; round-trip property in
    // BpeSpec)
    "x_bpe_tokenize" -> ((s: SparkSession, dir: String) => {
      graft.ext.Bpe.tokenize(Tables.documents(s, dir), "doc_id", "text",
        bpeFor(s, dir))
    }),

    // BYTE-level BPE training (GPT-2 class): symbols are UTF-8 bytes as
    // hex pairs, so the base alphabet is <= 256 and EVERY string encodes
    // with zero OOV risk (byte fallback — what production tokenizers
    // actually do); merge machinery shared with the char trainer, oracle =
    // the same unrolled-CTE recipe over hex(encode(word))
    "x_bpe_bytes_merges" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      bpeBytesFor(s, dir).zipWithIndex
        .map { case ((a, b, c), i) => (i + 1, a, b, c) }
        .toDF("rank", "sym_a", "sym_b", "cnt")
    }),

    // byte-level encoding with the trained merges: per-doc token counts +
    // the first word's byte tokens (hex symbols) — the greedy encode loop
    // over the byte alphabet, never throws on unseen characters
    "x_bpe_bytes_tokenize" -> ((s: SparkSession, dir: String) => {
      graft.ext.ByteBpe.tokenize(Tables.documents(s, dir), "doc_id", "text",
        bpeBytesFor(s, dir))
    }),

    // tokenizer DRIFT / OOV monitor: per-source byte-fallback counts under
    // the frozen merges — single-byte tokens are content no trained merge
    // covers, and a source whose fallback rate jumps is the tokenizer's
    // retrain signal (the drift-gate analog for the tokenizer family).
    // Map-only encode + one keyed aggregation; the oracle re-runs the
    // delimited-symbol replace chain and counts len-2 symbols
    "x_bpe_oov_drift" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      graft.ext.ByteBpe.fallbackStats(docs, "doc_id", "text", bpeBytesFor(s, dir))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_fallback")).as("n_fallback"))
    }),

    // vocabulary COVERAGE curve: cumulative token-occurrence share by
    // frequency rank — the "how many vocab entries cover 90% of the
    // corpus" question every tokenizer-size decision starts from. Only
    // the top-20 head is ever emitted, so the head is taken DISTRIBUTED
    // (orderBy.limit → TakeOrderedAndProject: per-partition top-20s
    // merged on the driver, never a global sort) and the rank/cum
    // windows run AFTER the limit, over exactly 20 rows. The corpus
    // total is a map-only single-row aggregate broadcast back (Σ_v tf ==
    // Σ_docs |words| by construction — no second pass over the vocab).
    // A web-scale vocab (1e8–1e9 distinct tokens) never feeds a window.
    "x_text_vocab_coverage" -> ((s: SparkSession, dir: String) => {
      val wOrd = org.apache.spark.sql.expressions.Window
        .orderBy(col("tf").desc, col("tok"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val d = Tables.documents(s, dir)
      val top = d.select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("tok")).limit(20)
      val total = d.select(
        sum(size(split(col("text"), " ")).cast("long")).as("total"))
      top.crossJoin(broadcast(total))
        .select(
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("tf").desc, col("tok"))).as("rank"),
          col("tok"), col("tf"),
          (sum(col("tf")).over(wOrd).cast("double") / col("total")).as("cum_share"))
    }),

    // vocabulary building: global token ranks by (df desc, token). The
    // output is vocab-sized, so the rank CANNOT hide behind a head/limit
    // — it rides the distributed prefix sum instead (range-partition by
    // the rank order, per-partition counts, pid-metadata offsets), the
    // same two-phase shape as epoch shuffle / packing. A global
    // row_number window here would funnel 1e8–1e9 distinct tokens of a
    // web-scale corpus through ONE task.
    "x_text_vocab" -> ((s: SparkSession, dir: String) => {
      val vocab = Tables.documents(s, dir)
        .select(explode(array_distinct(split(col("text"), " "))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .withColumn("__one", lit(1L))
      graft.ext.Packing.runningTotalBy(vocab,
          Seq(col("df").desc, col("tok")), "__one")
        .select(col("tok"), col("df"), col("cum").cast("int").as("token_id"))
    }),

    // edit-distance vocabulary pairs (SymSpell deletion-neighborhood —
    // round 14): words within Levenshtein distance 1, candidates from ONE
    // equi-join on hashed ≤1-deletion variants, every candidate verified
    // with the exact code-point distance (output exact, never banded-
    // approximate; the scheme is vocabulary-sized end to end — see
    // ext.EditDist). The fixture vocabulary has no natural distance-1
    // pairs, so docs with doc_id % 5 = 0 append a last-char-deleted typo
    // of their first word — the same deterministic, SQL-mirrorable
    // augmentation discipline as x_text_pii; the oracle re-derives the
    // typos and checks ALL-PAIRS levenshtein over the vocabulary
    "x_vocab_editdist_pairs" -> ((s: SparkSession, dir: String) => {
      owned(s, dir, "x_vocab_editdist_pairs")(graft.ext.EditDist.nearPairs(
        graft.ext.EditDist.vocab(editAugDocs(s, dir), "text")))
    }),

    // the same scheme at production SymSpell's standard radius (k = 2 —
    // ≤2-deletion neighborhoods, exact verify): catches substituted-plus-
    // deleted variants and transpositions (lev 2) that the radius-1 form
    // can't; the fixture vocabulary has 69 natural distance-2 pairs, so
    // the radius is genuinely exercised beyond the planted typos
    "x_vocab_editdist2_pairs" -> ((s: SparkSession, dir: String) => {
      owned(s, dir, "x_vocab_editdist2_pairs")(graft.ext.EditDist.nearPairs(
        graft.ext.EditDist.vocab(editAugDocs(s, dir), "text"), maxDist = 2))
    }),

    // SymSpell's correction rule over the same augmented vocabulary:
    // each word's canonical form = its highest-frequency ≤1-edit neighbor
    // (itself included; ties to the smallest word) — the typo-collapse
    // map a normalization pass applies corpus-wide. Pairs + two keyed
    // joins + one argmax aggregation, all vocabulary-sized
    "x_vocab_typo_canonical" -> ((s: SparkSession, dir: String) => {
      owned(s, dir, "x_vocab_typo_canonical")(graft.ext.EditDist.typoCanonical(
        graft.ext.EditDist.vocab(editAugDocs(s, dir), "text")))
    }),

    // SymSpell's correction rule at its PRODUCTION radius (k = 2): the
    // canonical form is the highest-frequency word within edit distance
    // ≤ 2 — folds the substituted-plus-deleted variants and
    // transpositions the k = 1 map leaves separate (a canonical that
    // flips between the radii is pinned in EditDistSpec). Same argmax
    // semantics, same vocabulary-sized cost shape with the C(len, 2)
    // neighborhood factor
    "x_vocab_typo_canonical2" -> ((s: SparkSession, dir: String) => {
      owned(s, dir, "x_vocab_typo_canonical2")(graft.ext.EditDist.typoCanonical(
        graft.ext.EditDist.vocab(editAugDocs(s, dir), "text"), maxDist = 2))
    }),

    // the typo-canonical map served from MAINTAINED vocabulary counts
    // (the twelfth maintained structure — word counts are additive over
    // disjoint-doc ingests, so the ledger folds per-batch aggregates and
    // this entry pays only the vocabulary-sized canonicalization; the
    // corpus is never re-tokenized). Must equal the batch recompute
    // exactly — maintained == recompute, ONE shared oracle with
    // x_vocab_typo_canonical. The argmax is decided by SUMMED counts, so
    // serving it from per-wave snapshots would silently flip canonicals
    // (the spec's wave-flip case) — which is why the counts are maintained
    "x_vocab_typo_ledger" -> ((s: SparkSession, dir: String) => {
      owned(s, dir, "x_vocab_typo_ledger")(
        graft.streaming.VocabLedgerStream.probeTypoCanonical(
          s, vocabLedgerFor(s, dir)))
    }),

    // the k = 2 correction map served from the SAME maintained vocabulary
    // counts — maintained == recompute at the production radius too (ONE
    // oracle shared with x_vocab_typo_canonical2); the radius is a
    // serve-time knob over the ledger, not ledger state, so one count
    // store serves every correction radius
    "x_vocab_typo_ledger2" -> ((s: SparkSession, dir: String) => {
      owned(s, dir, "x_vocab_typo_ledger2")(
        graft.streaming.VocabLedgerStream.probeTypoCanonical(
          s, vocabLedgerFor(s, dir), maxDist = 2))
    }),

    // composed training-data-prep pipeline: quality filter -> language
    // prediction -> per-language corpus stats (fully oracle-mirrored)
    "x_pipeline_dataprep" -> ((s: SparkSession, dir: String) => {
      val nw = TextOps.nWords(col("text"))
      Tables.documents(s, dir)
        .filter(nw.between(20, 120))
        .select(TextOps.predictedLang("text").as("predicted"), col("n_chars"))
        .groupBy(col("predicted"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    }),

    // oracle-checkable slice of the DataPrep composition (quality gate →
    // exact-dedup canonical keep → deterministic split → per-split stats);
    // the full pipeline adds MinHash near-dup pruning + hash splits and is
    // exercised in DataPrepSpec
    "x_pipeline_train_corpus" -> ((s: SparkSession, dir: String) => {
      val gated = Tables.documents(s, dir)
        .filter(TextOps.qualityScore("text") >= 3)
      val kept = gated.join(
        graft.ext.ExactDedup.byContent(gated).select(col("canonical_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      kept
        .withColumn("split",
          when(pmod(col("doc_id"), lit(10)) < 8, "train")
            .when(pmod(col("doc_id"), lit(10)) < 9, "val")
            .otherwise("test"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // END-TO-END INCREMENTAL INGEST (round 13): one NEW batch
    // (doc_id % 10 == 0, the ledger family's batch convention; the eval
    // docs themselves are never ingested) through the whole curation
    // chain at BATCH cost — quality gate (map-only rule battery), fuzzy
    // novelty SERVED from the maintained MinHash signature ledger (batch
    // sketch + one band join against stored state; the corpus is never
    // re-read), and benchmark decontamination against the static src0
    // eval set (bloom-prescreened keyed join, eval-sized build). Per-doc
    // gate decisions out — the composition the ledger family exists for:
    // at 100 TB an ingest pays ~|batch|, not a corpus pass, through ALL
    // three gates. The oracle recomputes every flag from scratch
    // (maintained == recompute, per gate, in one entry).
    "x_pipeline_ingest" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val batch = docs.filter(col("doc_id") % 10 === 0 && col("source") =!= "src0")
      val novel = graft.streaming.MinHashLedgerStream.probe(s,
        minhashLedgerFor(s, dir),
        docs.filter(col("doc_id") % 10 === 0), minJaccard = 0.5)
        .select(col("doc_id")).withColumn("__novel", lit(1))
      val dirty = graft.ext.Decontaminate.contaminated(
        batch, docs.filter(col("source") === "src0"))
        .select(col("doc_id")).withColumn("__dirty", lit(1))
      batch
        .withColumn("quality_ok",
          coalesce((TextOps.qualityScore("text") >= 3).cast("int"), lit(0)))
        .join(novel, Seq("doc_id"), "left")
        .join(dirty, Seq("doc_id"), "left")
        .select(col("doc_id"), col("quality_ok"),
          coalesce(col("__novel"), lit(0)).as("novel"),
          (lit(1) - coalesce(col("__dirty"), lit(0))).as("clean"))
        .withColumn("keep",
          (col("quality_ok") === 1 && col("novel") === 1 && col("clean") === 1)
            .cast("int"))
    }),

    // approximate aggregates — the sketches any 100 TB pipeline leans on.
    // Engine-specific sketch internals (HLL++, GK) can't hash-match another
    // engine → rows-only here; tolerance vs exact is asserted in
    // ApproxSpec.
    "x_approx_stats" -> ((s: SparkSession, dir: String) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("approx_orders"),
          expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)").as("price_p50_p95"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("approx_orders"),
          element_at(col("price_p50_p95"), 1).as("p50"),
          element_at(col("price_p50_p95"), 2).as("p95"),
          col("n"))
    }),

    // mergeable-sketch rollup: per-(flag,status) HLL sketches UNIONED up to
    // per-flag estimates — the two-level pattern that lets 100 TB shards
    // sketch independently and combine without re-reading data. Sketch
    // internals are engine-specific -> rows-only; tolerance vs exact is
    // pinned in ApproxSpec.
    "x_approx_hll_merge" -> ((s: SparkSession, dir: String) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(hll_sketch_agg(col("l_orderkey")).as("sk"), count(lit(1)).as("n"))
        .groupBy(col("l_returnflag"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_orders"),
          sum(col("n")).as("n_rows"))
    }),

    // Count-Min frequency estimates for the 5 commonest tokens, next to
    // their exact counts (est ≥ exact always; bound pinned in
    // CountMinAggSpec). The sketch is d·w longs of driver model state —
    // same bounded-.collect() class as the IVF centroids — built in one
    // mergeable pass via the cached `cms_sketch` build; rows-only
    // (MurmurHash rows aren't SQL-expressible)
    "x_approx_cms" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val sk = cmsFor(s, dir)
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("tok")).limit(5)
        .as[(String, Long)]
        .map { case (tok, exact) =>
          (tok, exact, graft.ext.CountMinAgg.estimate(sk, 4, 4096, tok))
        }
        .toDF("tok", "exact", "cms_estimate")
    }),

    // ---- multimodal plumbing ------------------------------------------
    "x_mm_bytes" -> ((s: SparkSession, dir: String) => {
      Tables.documents(s, dir).select(
        col("doc_id"),
        octet_length(col("text")).as("n_bytes"))
    }),

    "x_mm_features" -> ((s: SparkSession, dir: String) => {
      val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("n_bytes"), col("width"), col("height"),
          // f0 is k/256 — float→double is exact, so the oracle can match
          element_at(col("feature"), 1).cast("double").as("f0"))
    }),

    // REAL codec round trip: PNGs are encoded from (doc_id, n_chars) with
    // arithmetic dimensions, shipped as binary, and decoded with ImageIO —
    // the oracle recomputes the dimensions arithmetically, so a hash match
    // proves the decode recovered true pixel geometry
    "x_mm_image_decode" -> ((s: SparkSession, dir: String) => {
      val media = Multimodal.pngMediaFromDocuments(s, Tables.documents(s, dir))
      Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("width"), col("height"))
    }),

    // MIXED media table (PNG ∪ WAV, audio ids offset to disjoint range)
    // through the one type-dispatching decode: images land on ImageIO,
    // audio on the RIFF codec — width/height carry true pixel geometry
    // for images and (n_samples, sample_rate) for audio, both re-derived
    // arithmetically by the oracle, so a hash match pins the DISPATCH
    // itself, not just each codec in isolation
    "x_mm_decode_dispatch" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val docs = Tables.documents(s, dir)
      val png = Multimodal.pngMediaFromDocuments(s, docs)
      val wav = Audio.wavMediaFromDocuments(s, docs)
        .map(r => r.copy(media_id = r.media_id + 1000000000L))
      Multimodal.extractFeatures(png.union(wav)).toDF()
        .select(col("media_id"), col("media_type"), col("width"), col("height"))
    }),

    // real resize (Graphics2D bilinear, re-encoded PNG) then real decode;
    // target geometry is integer arithmetic -> oracle-checked
    "x_mm_resize" -> ((s: SparkSession, dir: String) => {
      val media = Multimodal.pngMediaFromDocuments(s, Tables.documents(s, dir))
      Multimodal.extractFeatures(Multimodal.resizeImages(media, maxDim = 16)).toDF()
        .select(col("media_id"), col("width"), col("height"))
    }),

    // frame sampling from a multi-frame container: every 2nd frame decoded
    // (others skipped), geometry oracle-checked per sampled frame
    "x_mm_frame_sample" -> ((s: SparkSession, dir: String) => {
      val media = Multimodal.frameMediaFromDocuments(s, Tables.documents(s, dir))
      Multimodal.sampleFrames(media, stride = 2).toDF()
    }),

    // ---- perceptual-hash image dedup ----------------------------------
    // signatures: REAL PNG encode → bytes → ImageIO decode, then the
    // integer dHash/aHash over the 9×8 block grid. The fixture's pixels
    // are arithmetic in doc_id, so the oracle derives the SAME hashes with
    // no codec at all — a hash match pins decode + grayscale + block means
    // + gradient signs end to end
    "x_mm_dhash_sigs" -> ((s: SparkSession, dir: String) => {
      Multimodal.perceptualHashes(
        Multimodal.dedupMediaFromDocuments(s, Tables.documents(s, dir)))
    }),

    // pHash (DCT hash): the frequency-domain third member of the image
    // signature family — integer 2D DCT over the block grid (quantized
    // basis, exported to the oracle as literals so cos never crosses
    // engines), lower-median threshold over the 60 lowest non-DC
    // coefficients; exactly invariant to uniform brightness shifts (the
    // quantized basis rows still sum to zero — pinned in MultimodalSpec)
    "x_mm_phash_sigs" -> ((s: SparkSession, dir: String) => {
      Multimodal.dctHashes(
        Multimodal.dedupMediaFromDocuments(s, Tables.documents(s, dir)))
    }),

    // image near-dup PAIRS through the text SimHash's chunk-pigeonhole
    // banding (one keyed shuffle, exact for maxDist ≤ 3) — the oracle is
    // the all-pairs hamming scan, equal by pigeonhole exactness, so the
    // shared banding machinery gets a second independent cross-engine pin.
    // Served from the SIGNATURE LEDGER (round-14 decode-once boundary):
    // the entry's contract is signature-level, so it reads the
    // once-per-corpus mm_sig_ledger like x_mm_sim_topk — the decode cost
    // stays measured by x_mm_image_decode / x_mm_dhash_sigs (live by
    // design) and itemized in the mm_sig_ledger build
    "x_mm_dhash_pairs" -> ((s: SparkSession, dir: String) => {
      owned(s, dir, "x_mm_dhash_pairs")(
        Multimodal.imageNearDuplicatesFromSigs(mmSigsFor(s, dir), maxDist = 3))
    }),

    // image dedup GROUPS: connected components over the near-dup pairs —
    // the canonical-keep ledger for images, the same Components machinery
    // (and once-per-corpus build treatment) as the text ledger x_dedup_cc
    "x_mm_dedup_groups" -> ((s: SparkSession, dir: String) => mmCcFor(s, dir)),

    // canonical keep per image group: the decision step of image dedup —
    // min-id representative + member count per component (the ExactDedup
    // keep rule applied to the image ledger); one keyed agg over the
    // cached 16 B/row labels
    "x_mm_dedup_canonical" -> ((s: SparkSession, dir: String) => {
      mmCcFor(s, dir)
        .groupBy(col("component"))
        .agg(min(col("media_id")).as("keep_id"),
          count(lit(1)).as("n_members"))
    }),

    // image similarity SEARCH: top-k nearest corpus images per query image
    // by dHash hamming distance (ties by id) — the retrieval form of the
    // perceptual hash. Queries broadcast (bounded set, the bruteForceTopK
    // scale class); corpus hashes stream through one narrow pass, served
    // from the once-per-corpus signature ledger (probes never re-decode)
    "x_mm_sim_topk" -> ((s: SparkSession, dir: String) => {
      val sigs = mmSigsFor(s, dir)
      val q = sigs.filter(col("media_id") < 5)
        .select(col("media_id").as("q_id"), col("dhash").as("q_hash"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("hamming"), col("n_id"))
      sigs.select(col("media_id").as("n_id"), col("dhash").as("n_hash"))
        .crossJoin(broadcast(q))
        .filter(col("n_id") =!= col("q_id"))
        .select(col("q_id"), col("n_id"),
          bit_count(col("n_hash").bitwiseXOR(col("q_hash"))).as("hamming"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
    }),

    // MULTIMODAL INCREMENTAL INGEST (round 13): the x_pipeline_ingest
    // story for images — a NEW media batch pays its OWN decode +
    // perceptual hash, then one pigeonhole band join against the
    // maintained signature ledger's corpus side (16 B/doc stored state;
    // the corpus is never re-decoded). The batch is the % 10 slice
    // (re-ingested KNOWN content — must come back duplicate) plus the
    // whole ≡ 7 (mod 101) content-class family (GENUINELY new content
    // that exists nowhere in the corpus — must come back novel; at >sf0.1
    // moduli this is n/101 docs across 10+ render classes, so the planted
    // novelty scales with the corpus). Batch images render with the
    // CORPUS class modulus (a subset must produce the same bytes per id
    // as the full fixture). The oracle is the brute-force batch × corpus
    // hamming scan over the same derived hashes.
    "x_mm_ingest_novel" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val m = Multimodal.dedupClassModulus(docs.count())
      val inBatch = col("doc_id") % 10 === 0 || col("doc_id") % 101 === 7
      val batch = docs.filter(inBatch)
      val batchSigs = Multimodal.perceptualHashes(
          Multimodal.dedupMediaFromDocuments(s, batch, m))
        .select(col("media_id"), col("dhash").as("simhash"))
      val corpusSigs = mmSigsFor(s, dir)
        .filter(!(col("media_id") % 10 === 0 || col("media_id") % 101 === 7))
        .select(col("media_id"), col("dhash").as("simhash"))
      SimHash.novelAgainstSigs(
        batch.select(col("doc_id").as("media_id")),
        batchSigs, corpusSigs, maxDist = 3, idCol = "media_id")
    }),

    // cross-modal curation JOIN (the LAION-style pairing gate): REAL image
    // decode joined back to the caption text on the shared id — keep
    // samples whose image is large enough AND whose caption passes the
    // quality battery. Row-level output so the decode, the keyed join, and
    // both gates are hash-pinned; at scale this is one keyed shuffle (or
    // zero, media and captions bucketed on the id)
    "x_mm_caption_curation" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val feats = Multimodal.extractFeatures(
        Multimodal.pngMediaFromDocuments(s, docs)).toDF()
        .select(col("media_id"), col("width"), col("height"))
      feats.join(docs.select(col("doc_id").as("media_id"),
          TextOps.qualityScore("text").as("caption_quality")), Seq("media_id"))
        .withColumn("keep",
          ((col("width") * col("height") >= 256) &&
            (col("caption_quality") >= 3)).cast("int"))
    }),

    // ---- audio family -------------------------------------------------
    // REAL container codec round trip: spec-correct RIFF/WAVE writer →
    // binary payload → chunk-walking parser; every feature integer-exact,
    // so the oracle re-derives them from the sample formula and a hash
    // match pins the whole decode path (the audio analog of
    // x_mm_image_decode)
    "x_mm_audio_decode" -> ((s: SparkSession, dir: String) => {
      val media = Audio.wavMediaFromDocuments(s, Tables.documents(s, dir))
      Audio.decodeFeatures(media).toDF()
    }),

    // fixed-length analysis frames (25 ms @ 16 kHz), exact Σs² energy per
    // frame — restricted to every 10th clip to bound the oracle's
    // sample-expansion cost (the Spark side is map-only either way)
    "x_mm_audio_frames" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir).filter(col("doc_id") % 10 === 0)
      Audio.frameEnergies(Audio.wavMediaFromDocuments(s, docs), frameLen = 400).toDF()
    }),

    // decimating resample re-encoded as a REAL WAV at sr/4, then re-parsed
    // — kept-sample stats oracle-checked (stride arithmetic mirrored)
    "x_mm_audio_resample" -> ((s: SparkSession, dir: String) => {
      val media = Audio.wavMediaFromDocuments(s, Tables.documents(s, dir))
      Audio.decodeFeatures(Audio.resample(media, stride = 4)).toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("sum_abs"))
    }),

    // production-kernel twin of x_mm_audio_resample: windowed-sinc
    // band-limited 16 kHz → 4 kHz (anti-aliased, unlike plain decimation),
    // same map-only shape. Float kernel → rows-only here; the kernel's
    // contracts (DC/tone preservation, alias attenuation, length/rate)
    // are property-pinned in AudioSpec
    "x_mm_audio_resample_sinc" -> ((s: SparkSession, dir: String) => {
      val media = Audio.wavMediaFromDocuments(s, Tables.documents(s, dir))
      Audio.decodeFeatures(Audio.resampleSinc(media, outRate = 4000)).toDF()
        .select(col("media_id"), col("sample_rate"), col("n_samples"),
          col("sum_abs"))
    }),

    // ---- audio fingerprint dedup --------------------------------------
    // 60-bit energy-gradient fingerprints over the dedup fixture (exact-dup
    // groups via seed=doc_id%101, near-dup perturbation via doc_id%3) —
    // the audio analog of x_mm_dhash_sigs
    "x_mm_audio_fp_sigs" -> ((s: SparkSession, dir: String) => {
      Audio.fingerprints(
        Audio.dedupWavFromDocuments(s, Tables.documents(s, dir)))
    }),

    // near-dup PAIRS through the shared chunk-pigeonhole banding (one
    // keyed shuffle, exact for maxDist ≤ 3) — oracle is the all-pairs
    // hamming scan, equal by pigeonhole exactness. Served from the
    // fingerprint ledger (round-14 decode-once boundary — the parse cost
    // stays measured by x_mm_audio_decode / x_mm_audio_fp_sigs)
    "x_mm_audio_fp_pairs" -> ((s: SparkSession, dir: String) => {
      Audio.audioNearDuplicatesFromSigs(audioFpFor(s, dir), maxDist = 3)
    }),

    // audio dedup GROUPS: hash-first connected components over the
    // fingerprint near-dup relation (quotient-graph argument as the image
    // groups; built once per corpus like the other ledgers)
    "x_mm_audio_dedup_groups" -> ((s: SparkSession, dir: String) => audioCcFor(s, dir)),

    // voice-activity spans: real parse → frame energies → gaps-and-islands
    // over active frames (the silence-removal step of an ASR corpus
    // build); window keyed per clip, never global
    "x_mm_audio_vad" -> ((s: SparkSession, dir: String) => {
      Audio.vadSpans(
        Audio.speechWavFromDocuments(s, Tables.documents(s, dir)), frameLen = 100)
    }),

    // shot-boundary detection: per-frame REAL decode → integer mean luma →
    // consecutive-frame delta flag (the classic luma-delta detector);
    // map-only across containers, sequential only within one video
    "x_mm_shot_bounds" -> ((s: SparkSession, dir: String) => {
      Multimodal.shotBoundaries(
        Multimodal.frameMediaFromDocuments(s, Tables.documents(s, dir)),
        threshold = 8).toDF()
    }),

    // WARC container round trip: spec-correct record writer → one archive
    // stream per task (crawler sharding) → strict Content-Length-honoring
    // parse, warcinfo records skipped — the Common-Crawl ingestion shape;
    // the oracle re-derives lengths from the documents table, so a hash
    // match pins the whole encode → parse → decode path
    "x_warc_roundtrip" -> ((s: SparkSession, dir: String) => {
      graft.io.Warc.roundTrip(s, Tables.documents(s, dir))
    }),

    // JSONL round trip: the corpus exported as real one-object-per-line
    // files (the build, per-partition sharding) and re-ingested
    // SCHEMA-PINNED in FAILFAST mode; the oracle reads the ORIGINAL
    // documents table, so a hash match proves JSON escaping (quotes,
    // control chars, non-ASCII) survives encode → parse → decode bit for
    // bit. The PERMISSIVE quarantine policy for foreign feeds is pinned
    // in JsonlSpec.
    "x_jsonl_roundtrip" -> ((s: SparkSession, dir: String) => {
      graft.io.Jsonl.read(s, jsonlExportFor(s, dir))
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
    }),

    // content-defined chunking (Rabin-style divisor rule, FastCDC shape):
    // boundaries are a function of CONTENT, so an early edit leaves all
    // later chunks identical — the delta-dedup/snapshot-storage
    // primitive. Map-only rolling walk; chunk TEXT is in the output, so
    // the oracle (an 8-term integer window polynomial mirrored per
    // position) checks content reassembly, not just counts
    "x_text_cdc_chunks" -> ((s: SparkSession, dir: String) => {
      graft.ext.Cdc.chunks(Tables.documents(s, dir))
    }),

    // chunk-store dedup statistics over the CDC chunks: how many
    // characters a content-addressed store saves by keeping each chunk
    // once — one keyed aggregation on chunk content (hash-first at 100 TB,
    // see Cdc's scaladoc)
    "x_text_cdc_dedup" -> ((s: SparkSession, dir: String) => {
      graft.ext.Cdc.dedupStats(graft.ext.Cdc.chunks(Tables.documents(s, dir)))
    }),

    // CDC chunk store, MAINTAINED form: per src0 document the chunk count,
    // the chunks the store has never seen, and the bytes they add (the
    // ingest's write amplification) — probed against the ledger the build
    // folded (batch chunked + one 8-byte-keyed join pair; the corpus is
    // never re-chunked). The oracle re-chunks everything and re-derives
    // the novelty rule from the documents table alone, so maintained ==
    // recompute is the checked contract
    "x_text_cdc_ledger" -> ((s: SparkSession, dir: String) => {
      graft.streaming.CdcLedgerStream.probe(s, cdcLedgerFor(s, dir),
        Tables.documents(s, dir).filter(col("source") === "src0"))
    }),

    // PCA projection over the trained model: one codegen dot product per
    // component, mean-dot constant folded on the driver — map-only
    "x_embed_pca_project" -> ((s: SparkSession, dir: String) => {
      graft.ext.Pca.project(Tables.embeddings(s, dir), pcaFor(s, dir))
    }),

    // whitened projection: per component (x·v − μ·v)/√λ — decorrelated
    // unit-variance features (what a downstream probe/cluster consumes);
    // same map-only shape, rounding applied AFTER the division
    "x_embed_pca_whiten" -> ((s: SparkSession, dir: String) => {
      graft.ext.Pca.whiten(Tables.embeddings(s, dir), pcaFor(s, dir))
    }),

    // Unicode NFC normalization (native codegen kernel): the text is
    // adversarially DECOMPOSED first (every 'a' → 'a' + combining acute),
    // then composed back — the normalized TEXT itself is compared, plus
    // the code-point lengths before/after (composition must shrink them)
    "x_text_nfc" -> ((s: SparkSession, dir: String) => {
      val raw = regexp_replace(col("text"), "a", "a\u0301") // 'a' + combining acute
      Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.GraftFunctions.nfc_normalize(raw).as("text_nfc"),
        length(raw).as("len_raw"),
        length(graft.functions.GraftFunctions.nfc_normalize(raw)).as("len_nfc"))
    }),

    // Johnson–Lindenstrauss random projection: training-free dim
    // reduction (map-only, zero model state beyond the seed) — the first
    // move at web-scale dims before any trained structure exists
    "x_embed_rp_project" -> ((s: SparkSession, dir: String) => {
      graft.ext.Pca.randomProject(Tables.embeddings(s, dir), m = 8)
    }),

    // sentence segmentation stats: rule split on terminal punctuation +
    // space (identical Java/RE2 semantics), one explode + one keyed agg —
    // the chunk-at-sentence-boundary primitive
    "x_text_sentences" -> ((s: SparkSession, dir: String) => {
      TextOps.sentenceStats(Tables.documents(s, dir))
    }),

    // projection through the SKETCHED trainer (randomized range finder —
    // the large-d path whose per-task buffer is d·m, not d²/2); same
    // map-only serving shape, independently oracled via its own literals
    "x_embed_pca_sketch" -> ((s: SparkSession, dir: String) => {
      graft.ext.Pca.project(Tables.embeddings(s, dir), pcaSkFor(s, dir))
    }),

    // explained variance actually captured per component (the PCA quality
    // check), from the rounded projections with the decimal-avg convention
    "x_embed_pca_var" -> ((s: SparkSession, dir: String) => {
      graft.ext.Pca.project(Tables.embeddings(s, dir), pcaFor(s, dir))
        .select(expr("stack(4, 0, p0, 1, p1, 2, p2, 3, p3) as (component, p)"))
        .groupBy(col("component"))
        .agg(Util.davg(col("p") * col("p")).as("var_captured"))
    }),

    // END-TO-END multimodal corpus curation: the image-dedup ledger's
    // canonical-keep rule (component label IS the min member id, so
    // canonical ⇔ component == media_id; unpaired images keep themselves)
    // composed with the caption quality gate — the final manifest a
    // LAION-style build ships to training. Two keyed joins over cached
    // 16 B/row labels; no decode cost beyond the once-per-corpus ledger.
    "x_pipeline_mm_corpus" -> ((s: SparkSession, dir: String) => {
      val cap = Tables.documents(s, dir)
        .select(col("doc_id").as("media_id"),
          TextOps.qualityScore("text").as("caption_quality"))
      cap.join(mmCcFor(s, dir), Seq("media_id"), "left")
        .filter(col("component").isNull || col("component") === col("media_id"))
        .filter(col("caption_quality") >= 3)
        .select(col("media_id"), col("caption_quality"))
    }),

    // ---- scalar quantization (int8 compressed-vector serving) ----------
    // the encoded code table: 4× scan-size reduction with NO codebook join
    // at probe time (the PQ/SQ tradeoff — see ext.Sq's scaladoc). Exploded
    // (vec_id, dim, code) so the oracle compares scalars
    "x_sq_codes" -> ((s: SparkSession, dir: String) => {
      val (_, codes) = sqFor(s, dir)
      codes.select(col("n_id").as("vec_id"),
        posexplode(col("codes")).as(Seq("dim", "code")))
    }),

    // SQ probe: dequantize inline (same codegen span as the scan — no
    // join, no LUT), exact top-k semantics over approximate cosines
    "x_sq_topk" -> ((s: SparkSession, dir: String) => {
      val (model, codes) = sqFor(s, dir)
      graft.ext.Sq.sqProbe(codes, model,
        Tables.embeddings(s, dir).filter(col("vec_id") < 5), k = 10)
    }),

    // recall@10 of the int8 probe vs exact brute force — unlike PQ, the
    // entire SQ chain is SQL-expressible, so recall itself hash-matches
    "x_sq_recall" -> ((s: SparkSession, dir: String) => {
      val (model, codes) = sqFor(s, dir)
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 5)
      val sq = graft.ext.Sq.sqProbe(codes, model, q, k = 10)
        .select(col("q_id"), col("n_id"))
      val brute = Similarity.bruteForceTopK(emb, q, k = 10)
        .select(col("q_id"), col("n_id"))
      brute.join(sq.withColumn("hit", lit(1)), Seq("q_id", "n_id"), "left")
        .groupBy(col("q_id"))
        .agg((sum(coalesce(col("hit"), lit(0))) / 10.0).as("recall_at_10"))
    }),

    // ---- corpus versioning / curation observability --------------------
    // snapshot diff between two corpus versions (added/removed/changed by
    // content fingerprint — see CorpusDiff). The two versions are derived
    // deterministically from `documents` so both engines diff the same
    // snapshots: v1 drops ids ≡ 0 (mod 10), v2 drops ids ≡ 0 (mod 7) and
    // edits the text of ids ≡ 0 (mod 5) via a null-propagating append.
    "x_corpus_diff" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val v1 = docs.filter(col("doc_id") % 10 =!= 0)
      val v2 = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      CorpusDiff.diff(v1, v2)
    }),

    // cross-source verbatim-overlap matrix (CorpusDiff.sourceOverlap):
    // distinct shared texts per source pair. A deterministic 'xmirror'
    // source (copies of ids ≡ 0 mod 25, re-idded) plants real overlap at
    // every SF; natural cross-source dups count identically in both
    // engines.
    "x_corpus_overlap" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val planted = docs.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit("xmirror").as("source"))
      val aug = docs.select(col("doc_id"), col("text"), col("source"))
        .union(planted)
      CorpusDiff.sourceOverlap(aug)
    }),

    // per-document drop-reason lineage through the curation funnel:
    // empty → quality(<3) → exact-dup-of-surviving-lower-id → kept
    // (see Curation.lineage; dedup runs over the survivors of the earlier
    // stages, as the real pipeline ordering does)
    "x_pipeline_lineage" -> ((s: SparkSession, dir: String) => {
      Curation.lineage(Tables.documents(s, dir), minScore = 3)
    }),

    // sketch-quality eval: recall of the banded md5-MinHash near-dup pairs
    // against exact-Jaccard ground truth over the SAME shingle universe
    // (precision is 1 by construction — banded candidates are verified
    // against exact shingle sets before emission — so recall is the whole
    // quality story, and it is itself hash-matched cross-engine)
    "x_dedup_minhash_recall" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val truth = minhashTruthFor(s, dir)
        .select(col("doc_a"), col("doc_b"))
      val found = MinHashDedup.nearDuplicatesMd5(docs, minJaccard = 0.5)
        .select(col("doc_a"), col("doc_b")).withColumn("hit", lit(1))
      truth.join(found, Seq("doc_a", "doc_b"), "left")
        // outer coalesce: empty truth set → DuckDB count() gives 0, Spark
        // sum() gives NULL — pin the empty case (round-10 ADVICE)
        .agg(count(lit(1)).as("n_true"),
          coalesce(sum(coalesce(col("hit"), lit(0))), lit(0L))
            .cast("long").as("n_found"))
        .withColumn("recall",
          when(col("n_true") === 0, lit(1.0))
            .otherwise(col("n_found").cast("double") / col("n_true")))
    }),

    // source-priority exact dedup (Curation.priorityKeep): the cross-source
    // merge keep rule — most-trusted source wins, id breaks ties. The
    // corpus is augmented with deterministic priority-0 "mirror" copies of
    // ids ≡ 0 (mod 50) (re-idded +1e6) so the rule is exercised at every
    // SF: mirrors beat their originals except src0 docs, where the tie
    // falls back to the lower original id.
    "x_dedup_priority_keep" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val planted = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          lit(0).as("priority"))
      val aug = docs
        .select(col("doc_id"), col("text"),
          regexp_extract(col("source"), "([0-9]+)$", 1).cast("int").as("priority"))
        .union(planted)
      Curation.priorityKeep(aug, "priority")
    }),

    // per-document PII findings (TextOps.piiCounts over the scrub pattern
    // list): URL / email / bare-number counts, the gate-and-audit side of
    // the scrub. Emails and URLs are planted deterministically (ids ≡ 0
    // mod 11 / mod 13, CASE order resolves the overlap at mod 143) so the
    // detectors see real positives at every SF.
    "x_text_pii" -> ((s: SparkSession, dir: String) => {
      val docs = Tables.documents(s, dir)
      val t2 = when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" mail user"), col("doc_id") % 5,
            lit("@example.com now")))
        .when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" see https://ex.org/p/"), col("doc_id"),
            lit(" ok")))
        .otherwise(col("text"))
      val counts = graft.ext.TextOps.piiCounts(t2)
      docs.select(col("doc_id") +: counts.map { case (n, c) =>
        c.cast("long").as(n) }: _*)
    })
  )

  /** Audio fingerprint SIGNATURE ledger per corpus — the audio twin of
    * [[mmSigsFor]] (round-14 decode-once boundary): clips are parsed and
    * fingerprinted once; every signature-level consumer (pair search,
    * dedup groups) reads this. `x_mm_audio_fp_sigs` still fingerprints
    * LIVE — its point is to measure and oracle the fingerprinting itself.
    */
  private val audioFpFor = Build[DataFrame]("audio_fp_ledger", Seq(_)) { (s, dir) =>
    // pinned: probes must not pay the WAV parse
    Materialize.pin(Audio.fingerprints(
      Audio.dedupWavFromDocuments(s, Tables.documents(s, dir))))
  }

  /** Audio-dedup component ledger per corpus — built once like [[mmCcFor]]. */
  private val audioCcFor = Build[DataFrame]("audio_dedup_ledger", Seq(_)) { (s, dir) =>
    // served from the fingerprint ledger: the parse happens once in
    // audio_fp_ledger; this build pays banding + CC over signatures
    Audio.audioDedupGroupsFromSigs(audioFpFor(s, dir), maxDist = 3)
  }

  /** Perceptual-hash SIGNATURE ledger per corpus: the retrieval entry
    * serves from this (a deployment hashes its corpus once at ingest and
    * probes forever after — re-decoding every image per query is not the
    * serving path). The `x_mm_dhash_sigs` entry still computes hashes
    * LIVE: its point is to measure and oracle the hashing itself.
    */
  private val mmSigsFor = Build[DataFrame]("mm_sig_ledger", Seq(_)) { (s, dir) =>
    // pinned: probes must not pay the PNG decode
    Materialize.pin(Multimodal.perceptualHashes(
      Multimodal.dedupMediaFromDocuments(s, Tables.documents(s, dir)))
      .select(col("media_id"), col("dhash")))
  }

  /** Image-dedup component ledger per corpus — built once like [[ccFor]]
    * (the CC fixpoint is a build; serving reads the checkpointed labels).
    */
  private val mmCcFor = Build[DataFrame]("mm_dedup_ledger", Seq(_)) { (s, dir) =>
    // hash-first: CC over DISTINCT-hash representatives, labels
    // expanded back — never the quadratically-expanded pair graph
    // (which OOM'd at sf1; see Multimodal.imageDedupGroups). Reads
    // the shared signature ledger (round-14 decode-once boundary):
    // the corpus decodes ONCE in mm_sig_ledger; this build pays only
    // the banding + CC over signatures
    Multimodal.imageDedupGroupsFromSigs(mmSigsFor(s, dir), maxDist = 3)
  }

  import Util._

  private val sqlWords = "string_split(text, ' ')"

  /** Shared by `x_decontaminate` (the batch operator) and
    * `x_decontam_incremental` (the streamed ledger probe): the maintained
    * == recompute contract means ONE oracle checks both.
    */
  private val decontamSql =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
      |d AS (SELECT doc_id, source,
      |    list_distinct(list_transform(generate_series(1, len(ws) - 2),
      |                  i -> array_to_string(ws[i:i+2], ' '))) AS ngs
      |  FROM w),
      |t AS (SELECT doc_id, unnest(ngs) AS ng FROM d WHERE source <> 'src0'),
      |e AS (SELECT DISTINCT unnest(ngs) AS ng FROM d WHERE source = 'src0')
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
      |FROM t JOIN e USING (ng) GROUP BY doc_id""".stripMargin

  /** Shared by `x_dedup_simhash_md5_incr` (batch recompute) and
    * `x_dedup_simhash_ledger` (the maintained-fingerprint probe) — one
    * oracle checks both (the maintained == recompute contract). Same
    * md5-token simhash arithmetic as the x_simhash_md5_* oracles.
    */
  private val simhashIncrSql =
    """WITH toks AS (
      |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents WHERE text IS NOT NULL)),
      |n AS (SELECT doc_id, count(*) AS cnt FROM toks GROUP BY 1),
      |bits AS (
      |  SELECT doc_id, b, count(*) FILTER (WHERE (h >> b) & 1 = 1) AS ones
      |  FROM toks CROSS JOIN (SELECT unnest(range(0, 60)) AS b)
      |  GROUP BY 1, 2),
      |sigs AS (
      |  SELECT bits.doc_id,
      |    CAST(sum(CASE WHEN 2 * ones > cnt THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits JOIN n USING (doc_id)
      |  GROUP BY 1),
      |matched AS (
      |  SELECT DISTINCT a.doc_id
      |  FROM sigs a JOIN sigs b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3)
      |SELECT d.doc_id FROM documents d LEFT JOIN matched m ON d.doc_id = m.doc_id
      |WHERE d.doc_id % 10 = 0 AND m.doc_id IS NULL""".stripMargin

  /** Shared by `x_dedup_minhash_md5_incr` (batch recompute) and
    * `x_dedup_minhash_ledger` (the maintained-signature probe): the
    * maintained == recompute contract means ONE oracle checks both. Same
    * md5-surrogate arithmetic as the x_minhash_md5_* oracles (mod 2^31-1,
    * overflow-free in both engines); novelty is an anti-join against the
    * brute-forced matched set.
    */
  /** CTE block (no leading WITH) deriving `matched` — the batch
    * (doc_id % 10 = 0) docs whose brute-force any-band + exact-Jaccard
    * match against the corpus says "duplicate". ONE copy shared by the
    * incremental-twin oracles and the end-to-end ingest oracle, so the
    * novelty contract cannot silently diverge between them.
    */
  private val minhashIncrCtes =
    """sh AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
      |    i -> string_split(lower(text), ' ')[i] || ' ' ||
      |         string_split(lower(text), ' ')[i+1] || ' ' ||
      |         string_split(lower(text), ' ')[i+2]))) AS s
      |  FROM documents WHERE text IS NOT NULL),
      |hs AS (
      |  SELECT doc_id, s,
      |    CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h1,
      |    CAST(concat('0x', substr(md5(s), 16, 15)) AS BIGINT) % 2147483647 AS h2
      |  FROM sh),
      |sigs AS (
      |  SELECT doc_id, list(CAST(m AS BIGINT) ORDER BY i) AS sig
      |  FROM (SELECT doc_id, i, min((h1 + i * h2) % 2147483647) AS m
      |        FROM hs CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
      |        GROUP BY 1, 2)
      |  GROUP BY 1),
      |sets AS (SELECT doc_id, list(DISTINCT s) AS ws FROM sh GROUP BY 1),
      |matched AS (
      |  SELECT DISTINCT a.doc_id
      |  FROM sigs a JOIN sigs b ON a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
      |  JOIN sets sa ON sa.doc_id = a.doc_id
      |  JOIN sets sb ON sb.doc_id = b.doc_id
      |  WHERE (a.sig[1:4] = b.sig[1:4] OR a.sig[5:8] = b.sig[5:8]
      |      OR a.sig[9:12] = b.sig[9:12] OR a.sig[13:16] = b.sig[13:16])
      |    AND CAST(len(list_intersect(sa.ws, sb.ws)) AS DOUBLE) /
      |      len(list_distinct(list_concat(sa.ws, sb.ws))) >= 0.5)""".stripMargin

  private val minhashIncrSql =
    s"""WITH $minhashIncrCtes
      |SELECT d.doc_id FROM documents d LEFT JOIN matched m ON d.doc_id = m.doc_id
      |WHERE d.doc_id % 10 = 0 AND m.doc_id IS NULL""".stripMargin

  /** Shared keyword-scoring CTE block (no leading WITH) for the two
    * retrieval oracles — ONE copy, so the keyword contract (3-gram
    * terms, df cap 100, integer ⌊N/df⌋ scoring, 5 query docs) cannot
    * silently diverge between the standalone entry and the hybrid's
    * keyword half.
    */
  /** The editAugDocs augmentation + vocabulary CTEs in DuckDB SQL (the
    * engine-side rule mirrored term for term; string_split is 1-indexed
    * where Spark's split[] is 0-indexed).
    */
  private val editAugSql: String =
    """WITH aug AS (SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 AND length(string_split(text, ' ')[1]) >= 3
      |         THEN text || ' ' || substr(string_split(text, ' ')[1], 1,
      |                length(string_split(text, ' ')[1]) - 1)
      |         ELSE text END AS t2
      |  FROM documents),
      |v AS (SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT unnest(string_split(t2, ' ')) AS w FROM aug)
      |  WHERE w <> '' GROUP BY 1)""".stripMargin

  /** The SymSpell canonicalization rule over the augmented vocabulary in
    * SQL at radius `k` — shared verbatim by each batch entry and its
    * ledger-served twin (maintained == recompute is the checked
    * contract). The `length <= 32` filter mirrors `EditDist.MaxWordLen`:
    * long tokens never pair (both engines count CODE POINTS in `length`),
    * so they reach the result only through the self-union.
    */
  private def typoCanonicalSqlAt(k: Int): String =
    s"""$editAugSql,
       |pairs AS (SELECT a.word AS wa, b.word AS wb
       |  FROM v a JOIN v b ON a.word < b.word
       |  WHERE length(a.word) <= 32 AND length(b.word) <= 32
       |    AND levenshtein(a.word, b.word) <= $k),
       |nbrs AS (SELECT wa AS word, wb AS nbr FROM pairs
       |  UNION ALL SELECT wb, wa FROM pairs
       |  UNION ALL SELECT word, word FROM v)
       |SELECT word, nbr AS canonical, CAST(cnt AS BIGINT) AS canonical_cnt
       |FROM (SELECT n.word, n.nbr, v2.cnt,
       |    row_number() OVER (PARTITION BY n.word
       |      ORDER BY v2.cnt DESC, n.nbr) AS rk
       |  FROM nbrs n JOIN v v2 ON v2.word = n.nbr)
       |WHERE rk = 1""".stripMargin

  private val typoCanonicalSql: String = typoCanonicalSqlAt(1)
  private val typoCanonical2Sql: String = typoCanonicalSqlAt(2)

  private lazy val retrievalKwCtes: String =
    s"""toks AS (SELECT doc_id, unnest(list_distinct(list_transform(
       |    generate_series(1, len($sqlWords) - 2),
       |    i -> $sqlWords[i] || ' ' || $sqlWords[i+1] || ' ' || $sqlWords[i+2]))) AS term
       |  FROM documents),
       |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY term),
       |rare AS (SELECT term, df FROM d WHERE df <= 100),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents),
       |qt AS (SELECT doc_id AS q_id, term FROM toks WHERE doc_id < 5),
       |kw AS (SELECT q_id, t.doc_id AS doc_id,
       |    CAST(sum(n_total // df) AS BIGINT) AS kw_score
       |  FROM toks t JOIN rare USING (term) JOIN qt USING (term), n
       |  WHERE t.doc_id <> q_id GROUP BY 1, 2)""".stripMargin

  /** The dup-rate-constant fixture class modulus, as SQL — mirrors
    * `Multimodal.dedupClassModulus(count(documents))` verbatim (round-12
    * verdict item 2: class count scales with the corpus so group sizes
    * and true pair counts stay constant per ingest; ≡ 101 up to the
    * sf0.1 corpus, so historical pins are unchanged).
    */
  private val mmModSql = "(SELECT 101 * greatest(1, count(*) // 5000) FROM documents)"

  /** Shared CTEs (no leading WITH — composes under plain and RECURSIVE
    * WITH) for the perceptual-hash family: re-derives the dedup fixture's
    * 18×16 pixels arithmetically (`Multimodal.dedupMediaFromDocuments` —
    * seed `doc_id % m` with the dup-rate-constant modulus `m`, the squared
    * mixing step so dHash distinguishes classes, and the two-block red-bit
    * perturbation at (0,0)/(4,4) for `doc_id % 3 = 0`),
    * then grayscale `(r+g+b)//3`, 2×2 block means `//4`, and the 60-bit
    * dHash (horizontal gradient signs) + aHash (vs the 8×8 mean `//64`) —
    * every step integer, mirroring `Multimodal.dHash60`/`aHash60` exactly.
    */
  /** Pixel + block-grid prefix shared by the dHash/aHash CTEs and the
    * pHash oracle (one fixture derivation, three signature families).
    */
  private val mmPxBlkCtes =
    s"""px AS MATERIALIZED (SELECT doc_id, x, y,
      |    CASE WHEN doc_id % 3 = 0 AND ((x = 0 AND y = 0) OR (x = 4 AND y = 4))
      |         THEN xor(rgb0, 7340032) ELSE rgb0 END AS rgb
      |  FROM (SELECT doc_id, x, y,
      |      (((t * t) % 16777216) * 48271) & 16777215 AS rgb0
      |    FROM (SELECT doc_id, x.x AS x, y.y AS y,
      |        ((doc_id % $mmModSql) * 2654435761 + x.x * 131 + y.y * 31) & 16777215 AS t
      |      FROM documents
      |      CROSS JOIN (SELECT unnest(range(0, 18)) AS x) x
      |      CROSS JOIN (SELECT unnest(range(0, 16)) AS y) y))),
      |blk AS MATERIALIZED (SELECT doc_id, x // 2 AS gx, y // 2 AS gy,
      |    CAST(sum((((rgb >> 16) & 255) + ((rgb >> 8) & 255) + (rgb & 255)) // 3) // 4 AS BIGINT) AS bval
      |  FROM px GROUP BY 1, 2, 3)""".stripMargin

  private val mmHashCtes =
    s"""$mmPxBlkCtes,
      |dh AS MATERIALIZED (SELECT b1.doc_id,
      |    CAST(sum(CASE WHEN b2.bval > b1.bval
      |         THEN (CAST(1 AS BIGINT) << (b1.gy * 8 + b1.gx)) ELSE 0 END) AS BIGINT) AS dhash
      |  FROM blk b1 JOIN blk b2 ON b2.doc_id = b1.doc_id
      |    AND b2.gy = b1.gy AND b2.gx = b1.gx + 1
      |  WHERE b1.gx < 8 AND b1.gy * 8 + b1.gx < 60
      |  GROUP BY 1),
      |mn AS MATERIALIZED (SELECT doc_id, CAST(sum(bval) FILTER (WHERE gx < 8) // 64 AS BIGINT) AS m
      |  FROM blk GROUP BY 1),
      |ah AS MATERIALIZED (SELECT b.doc_id,
      |    CAST(sum(CASE WHEN b.bval > mn.m
      |         THEN (CAST(1 AS BIGINT) << (b.gy * 8 + b.gx)) ELSE 0 END) AS BIGINT) AS ahash
      |  FROM blk b JOIN mn USING (doc_id)
      |  WHERE b.gx < 8 AND b.gy * 8 + b.gx < 60
      |  GROUP BY 1),
      |sigs AS MATERIALIZED (SELECT dh.doc_id AS media_id, dh.dhash, ah.ahash
      |  FROM dh JOIN ah USING (doc_id))""".stripMargin

  /** pHash oracle: the shared pixel/block fixture, then the quantized-DCT
    * basis as a VALUES literal (exported from Multimodal.DctQ — the one
    * transcendental never crosses engines), two separable matrix
    * multiplies, lower-median threshold over coefficients 1..60 —
    * Multimodal.pHash60 verbatim.
    */
  private def mmPhashOracle: String = {
    val dctVals = graft.ext.Multimodal.DctQ.zipWithIndex.flatMap {
      case (row, u) => row.zipWithIndex.map {
        case (c, x) => s"($u, $x, CAST($c AS BIGINT))"
      }
    }.mkString(",\n      ")
    s"""WITH $mmPxBlkCtes,
       |dctq AS (SELECT * FROM (VALUES
       |      $dctVals) t(u, x, c)),
       |tm AS MATERIALIZED (SELECT b.doc_id, cu.u, b.gx AS x,
       |    CAST(sum(cu.c * b.bval) AS BIGINT) AS t
       |  FROM blk b JOIN dctq cu ON cu.x = b.gy
       |  WHERE b.gx < 8 GROUP BY 1, 2, 3),
       |fm AS MATERIALIZED (SELECT tm.doc_id, tm.u, cv.u AS v,
       |    CAST(sum(cv.c * tm.t) AS BIGINT) AS f
       |  FROM tm JOIN dctq cv ON cv.x = tm.x
       |  GROUP BY 1, 2, 3),
       |fs AS (SELECT doc_id, u * 8 + v AS ci, f FROM fm
       |  WHERE u * 8 + v BETWEEN 1 AND 60),
       |md AS (SELECT doc_id, f AS med FROM (
       |    SELECT doc_id, f, row_number() OVER (PARTITION BY doc_id
       |      ORDER BY f, ci) AS rk FROM fs) WHERE rk = 30)
       |SELECT fs.doc_id AS media_id,
       |  CAST(sum(CASE WHEN fs.f > md.med
       |       THEN (CAST(1 AS BIGINT) << (fs.ci - 1)) ELSE 0 END) AS BIGINT) AS phash
       |FROM fs JOIN md USING (doc_id)
       |GROUP BY 1""".stripMargin
  }

  /** Shared CTE for the audio family: re-derives `Audio.synthSamples`'
    * PCM arithmetically — `s(k) = (seed·2654435761 + k·48271) % 65536 −
    * 32768` with `seed = doc_id % 1000003` and per-doc length
    * `n = 1600 + (doc_id % 7)·160` (range to the 2560 max, filtered).
    */
  private val audioSynthCte =
    """aus AS MATERIALIZED (SELECT doc_id, k.k,
      |    ((doc_id % 1000003) * 2654435761 + k.k * 48271) % 65536 - 32768 AS s,
      |    1600 + (doc_id % 7) * 160 AS n
      |  FROM documents
      |  CROSS JOIN (SELECT unnest(range(0, 2560)) AS k) k
      |  WHERE k.k < 1600 + (doc_id % 7) * 160)""".stripMargin

  /** Shared CTEs (no leading WITH) for the audio fingerprint family:
    * re-derives the dedup fixture (`Audio.dedupWavFromDocuments` — seed
    * `doc_id % m` with the dup-rate-constant modulus `m` above, fixed
    * n=1220, xor-7 raw perturbation at k=0 for
    * `doc_id % 3 = 0`), then the 61 20-sample frames (`f = k // 20`),
    * exact Σs² energies, and the 60-bit energy-gradient fingerprint —
    * mirroring `Audio.fingerprint60` exactly.
    */
  private val audioFpCtes =
    s"""afx AS MATERIALIZED (SELECT doc_id, k,
      |    CASE WHEN doc_id % 3 = 0 AND k = 0
      |         THEN xor(((x * x) % 65536) * 48271 % 65536, 7)
      |         ELSE ((x * x) % 65536) * 48271 % 65536
      |    END - 32768 AS s
      |  FROM (SELECT doc_id, k.k AS k, (doc_id % $mmModSql) * 1009 + k.k * 131 AS x
      |        FROM documents
      |        CROSS JOIN (SELECT unnest(range(0, 1220)) AS k) k) t),
      |afe AS MATERIALIZED (SELECT doc_id, k // 20 AS f,
      |    CAST(sum(s * s) AS BIGINT) AS e
      |  FROM afx GROUP BY 1, 2),
      |asig AS MATERIALIZED (SELECT e1.doc_id AS media_id,
      |    CAST(sum(CASE WHEN e2.e > e1.e
      |         THEN (CAST(1 AS BIGINT) << e1.f) ELSE 0 END) AS BIGINT) AS afp
      |  FROM afe e1 JOIN afe e2 ON e2.doc_id = e1.doc_id AND e2.f = e1.f + 1
      |  WHERE e1.f < 60
      |  GROUP BY 1)""".stripMargin

  // ---- BPE training/tokenize oracles ----------------------------------
  // The merge rounds are deterministic argmaxes, so training unrolls into
  // chained CTEs (the x_graph_pagerank recipe applied to tokenizer
  // training). Symbol sequences ride a DELIMITED-STRING encoding —
  // chr(31)+sym+chr(30) per symbol — because SQL `replace` is left-to-right
  // non-overlapping, which is EXACTLY the BPE merge rule ("aaa" merges the
  // first two); the open/close marks make pair patterns unambiguous at
  // symbol boundaries ("xa"+"b" can never match the pattern for "a"+"b")
  // and keep consecutive matches intact (the trailing mark of one match is
  // not the leading mark of the next). Every v_r/pc_r/m_r CTE is
  // MATERIALIZED: each round is referenced twice (next round's counts +
  // the merge application), and DuckDB would otherwise inline the chain
  // ~3^rounds times. Encoding applies the merge list in rank order — for
  // merges produced by BPE training this equals the greedy
  // lowest-rank-first encode loop (a merge's parts exist only after their
  // own lower-ranked merges), pinned by the cross-engine match.
  private val bpeO = "chr(31)" // symbol open mark (never appears in text)
  private val bpeC = "chr(30)" // symbol close mark

  /** Delimited symbolization of a word expression: one mark-wrapped
    * codepoint per character plus the end-of-word marker — the SQL mirror
    * of `Bpe.toSymbols` (DuckDB substr/length count characters, matching
    * the JVM's codePointAt walk).
    */
  private def bpeSymbolize(wordExpr: String, lamVar: String = "i") =
    // `lamVar` must not collide with any identifier inside wordExpr (the
    // lambda variable would shadow it); the concatenation operator sits at
    // END of line: a continuation line starting with `||` would lose its
    // first pipe to a caller's stripMargin (bpeTokenizeOracle strips the
    // composed template)
    s"""array_to_string(list_transform(generate_series(1, length($wordExpr)),
       |    $lamVar -> $bpeO || substr($wordExpr, $lamVar, 1) || $bpeC), '') ||
       |  $bpeO || '</w>' || $bpeC""".stripMargin

  /** BYTE-level symbolization of a word expression — the [[bpeSymbolize]]
    * twin over UTF-8 bytes: `hex(encode(word))` is the word's byte stream
    * as hex pairs, and symbol k is its k-th pair — exactly
    * `ByteBpe.toByteSymbols` (the JVM walks getBytes(UTF_8), both sides
    * walk the same encoding of the same string). Merged symbols are
    * concatenated hex pairs, so the delimited-string replace machinery
    * transfers verbatim.
    */
  private def byteSymbolize(wordExpr: String, lamVar: String = "i") =
    s"""array_to_string(list_transform(generate_series(1, octet_length(encode($wordExpr))),
       |    $lamVar -> $bpeO || substr(hex(encode($wordExpr)), 2*$lamVar - 1, 2) || $bpeC), '') ||
       |  $bpeO || '</w>' || $bpeC""".stripMargin

  /** CTE chain w, v0, pc1, m1, v1, …, pc_R, m_R (no leading WITH).
    * `symbolize` picks the alphabet: code points (default) or UTF-8 bytes
    * ([[byteSymbolize]]) — the merge/count/apply rounds are identical.
    */
  private def bpeMergeCtes(rounds: Int,
                           symbolize: (String, String) => String =
                             bpeSymbolize(_, _)): String = {
    val head = Seq(
      s"""w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |  WHERE length(word) > 0 GROUP BY word)""".stripMargin,
      s"""v0 AS MATERIALIZED (SELECT freq, ${symbolize("word", "i")} AS s FROM w)""")
    val perRound = (1 to rounds).flatMap { r =>
      val apply = if (r == rounds) Seq.empty else Seq(
        s"""v$r AS MATERIALIZED (SELECT freq,
           |  replace(s,
           |    (SELECT $bpeO || sym_a || $bpeC || $bpeO || sym_b || $bpeC FROM m$r),
           |    (SELECT $bpeO || sym_a || sym_b || $bpeC FROM m$r)) AS s
           |  FROM v${r - 1})""".stripMargin)
      Seq(
        s"""pc$r AS MATERIALIZED (
           |  SELECT pr[1] AS sym_a, pr[2] AS sym_b, CAST(sum(freq) AS BIGINT) AS cnt
           |  FROM (SELECT freq,
           |          unnest(list_transform(generate_series(1, len(ws) - 1),
           |                 i -> [ws[i], ws[i+1]])) AS pr
           |        FROM (SELECT freq,
           |                string_split(trim(s, $bpeO || $bpeC), $bpeC || $bpeO) AS ws
           |              FROM v${r - 1}) q)
           |  GROUP BY 1, 2)""".stripMargin,
        s"""m$r AS MATERIALIZED (SELECT sym_a, sym_b, cnt FROM pc$r
           |  ORDER BY cnt DESC, sym_a, sym_b LIMIT 1)""".stripMargin) ++ apply
    }
    (head ++ perRound).mkString(",\n")
  }

  private def bpeMergesOracle(rounds: Int,
                              symbolize: (String, String) => String =
                                bpeSymbolize(_, _)): String = {
    val union = (1 to rounds)
      .map(r => s"SELECT CAST($r AS INT) AS rank, sym_a, sym_b, cnt FROM m$r")
      .mkString("\nUNION ALL ")
    s"WITH ${bpeMergeCtes(rounds, symbolize)}\n$union"
  }

  private def bpeTokenizeOracle(rounds: Int,
                                symbolize: (String, String) => String =
                                  bpeSymbolize(_, _),
                                tokCol: String = "n_bpe_tokens"): String = {
    val applied = (1 to rounds).foldLeft("s0") { (acc, r) =>
      s"""replace($acc,
         |  (SELECT $bpeO || sym_a || $bpeC || $bpeO || sym_b || $bpeC FROM m$r),
         |  (SELECT $bpeO || sym_a || sym_b || $bpeC FROM m$r))""".stripMargin
    }
    s"""WITH ${bpeMergeCtes(rounds, symbolize)},
       |dw AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
       |       FROM documents),
       |wd AS (SELECT doc_id, i AS wi, ${symbolize("ws[i]", "j")} AS s0
       |       FROM dw, generate_series(1, 8192) t(i) WHERE i <= len(ws)),
       |enc AS (SELECT doc_id, wi,
       |          string_split(trim($applied, $bpeO || $bpeC), $bpeC || $bpeO) AS syms
       |        FROM wd),
       |agg AS (SELECT doc_id, CAST(count(*) AS INT) AS n_words,
       |          CAST(sum(len(syms)) AS INT) AS $tokCol
       |        FROM enc GROUP BY 1),
       |fw AS (SELECT doc_id, array_to_string(syms, '|') AS first_word_tokens
       |       FROM enc WHERE wi = 1)
       |SELECT d.doc_id,
       |  coalesce(agg.n_words, 0) AS n_words,
       |  coalesce(agg.$tokCol, 0) AS $tokCol,
       |  coalesce(fw.first_word_tokens, '') AS first_word_tokens
       |FROM documents d
       |LEFT JOIN agg USING (doc_id) LEFT JOIN fw USING (doc_id)""".stripMargin
  }

  /** Per-source byte-fallback counts under the frozen byte-BPE merges —
    * the oracle for `x_bpe_oov_drift`: the x_bpe_bytes_tokenize replace
    * chain re-run per word, single-byte tokens = len-2 hex symbols,
    * aggregated per source with zero-count sources kept (mirrors the
    * Spark side's per-doc zeros).
    */
  private def bpeOovDriftOracle(rounds: Int): String = {
    val applied = (1 to rounds).foldLeft("s0") { (acc, r) =>
      s"""replace($acc,
         |  (SELECT $bpeO || sym_a || $bpeC || $bpeO || sym_b || $bpeC FROM m$r),
         |  (SELECT $bpeO || sym_a || sym_b || $bpeC FROM m$r))""".stripMargin
    }
    s"""WITH ${bpeMergeCtes(rounds, byteSymbolize(_, _))},
       |dw AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
       |       FROM documents),
       |wd AS (SELECT doc_id, i AS wi, ${byteSymbolize("ws[i]", "j")} AS s0
       |       FROM dw, generate_series(1, 8192) t(i) WHERE i <= len(ws)),
       |enc AS (SELECT doc_id, wi,
       |          string_split(trim($applied, $bpeO || $bpeC), $bpeC || $bpeO) AS syms
       |        FROM wd),
       |tok AS (SELECT doc_id, unnest(syms) AS sym FROM enc),
       |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS t,
       |          CAST(count(*) FILTER (WHERE len(sym) = 2) AS BIGINT) AS f
       |        FROM tok GROUP BY 1)
       |SELECT d.source, CAST(sum(coalesce(per.t, 0)) AS BIGINT) AS n_tokens,
       |  CAST(sum(coalesce(per.f, 0)) AS BIGINT) AS n_fallback
       |FROM documents d LEFT JOIN per USING (doc_id)
       |GROUP BY 1""".stripMargin
  }

  /** Shared CTE prefix for the CDC entries: per-document cut positions
    * (the 8-term window polynomial of Cdc.scala — base 33, code point mod
    * 4096, divisor 61, cuts strictly inside the text) and the chunk
    * bounds lists `cb(doc_id, text, st, en)`.
    */
  private val cdcChunksSql = {
    val pows = Seq(42618442977L, 1291467969L, 39135393L, 1185921L,
      35937L, 1089L, 33L, 1L) // 33^7 … 33^0
    // the BIGINT cast is load-bearing: unicode(...) % 4096 is INT32 in
    // DuckDB and the smaller power literals also fit INT32, so the
    // product would overflow 32-bit where the engine's arithmetic is long
    val terms = pows.zipWithIndex.map { case (p, j) =>
      s"CAST(unicode(substr(text, CAST(q - ${7 - j} AS INT), 1)) % 4096 AS BIGINT) * $p"
    }.mkString("\n      + ")
    s"""WITH cdoc AS (SELECT doc_id, text, length(text) AS n FROM documents
       |  WHERE text IS NOT NULL AND length(text) > 0),
       |ck AS (SELECT doc_id, text, n,
       |    list_filter(generate_series(8, n - 1), q ->
       |      ($terms) % 61 = 0) AS cuts
       |  FROM cdoc),
       |cb AS (SELECT doc_id, text,
       |    list_prepend(CAST(0 AS BIGINT), cuts) AS st,
       |    list_append(cuts, CAST(n AS BIGINT)) AS en
       |  FROM ck)""".stripMargin
  }

  /** Shared CTEs for the exact-substring family: stride-1 40-char windows
    * with 0-based positions (`w`) and per-window occurrence counts (`f`).
    * The oracle groups by window text directly — it verifies the two-pass
    * hash-first plan's OUTPUT, not its intermediate hashes.
    */
  private val substrWindowCtes =
    """WITH p AS (SELECT doc_id,
      |    unnest(generate_series(0, length(text) - 40)) AS pos, text
      |  FROM documents WHERE length(text) >= 40),
      |w AS (SELECT doc_id, pos,
      |    substr(text, CAST(pos AS INT) + 1, 40) AS gram FROM p),
      |f AS (SELECT gram, count(*) AS cnt FROM w GROUP BY gram)""".stripMargin

  /** Islands → maximal DISJOINT spans over a `(doc_id, pos)` CTE named
    * `d`: group breaks only at position gaps ≥ 40 (each position covers
    * 40 chars, so sub-40 gaps are overlapping intervals that must merge —
    * mirrors `SubstrDedup.islands`).
    */
  private val substrIslandCtes =
    """i AS (SELECT doc_id, pos,
      |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) < 40
      |         THEN 0 ELSE 1 END AS brk
      |  FROM d),
      |g AS (SELECT doc_id, pos,
      |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      |  FROM i)""".stripMargin
  private val substrSpanSelect =
    s"""$substrIslandCtes
      |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
      |  CAST(max(pos) + 40 AS BIGINT) AS span_end,
      |  CAST(max(pos) + 40 - min(pos) AS BIGINT) AS span_len
      |FROM g GROUP BY doc_id, grp""".stripMargin
  private def sqlStopCount(words: Seq[String]) =
    s"len(list_filter($sqlWords, w -> w in (${words.map(w => s"'$w'").mkString(", ")})))"

  /** DuckDB mirror of `TextOps.qualityScore("text")` (the Gopher/C4 rule
    * battery summed) — identical text to the `x_text_quality` /
    * `x_quality_gate_lang` oracles.
    */
  /** Shared with [[WebPipeline]] (the crawl-pipeline oracle applies the
    * same battery to WARC-round-tripped, markup-stripped text).
    */
  private[queries] def sqlQualityScoreOverText: String = sqlQualityScore

  private def sqlQualityScore =
    s"""CAST(len($sqlWords) BETWEEN 20 AND 1000 AS INT)
       |    + CAST(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len($sqlWords)
       |           BETWEEN 3.0 AND 10.0 AS INT)
       |    + CAST(CAST(${sqlStopCount(graft.ext.TextOps.DefaultStopwords)} AS DOUBLE)
       |           / len($sqlWords) >= 0.05 AS INT)
       |    + CAST(CAST(len(list_distinct($sqlWords)) AS DOUBLE)
       |           / len($sqlWords) >= 0.3 AS INT)""".stripMargin

  /** Component fixpoint over the jaccard pair graph (DuckDB recursive-CTE
    * walk) — shared by `x_dedup_cc` (min-label propagation) and
    * `x_dedup_cc_star` (star contraction): one oracle, two algorithms.
    */
  // t/p MATERIALIZED: consumers reference them repeatedly (the recursive
  // walk every iteration; the triangle close three times), and DuckDB
  // re-evaluates non-materialized CTEs per reference — without the hint
  // each fixpoint round re-ran the ENTIRE quadratic jaccard pair join
  // (the sf1 gate sat >30 min on one oracle)
  private val ccPairCtes =
    s"""t AS MATERIALIZED (SELECT doc_id, source, n_chars, list_distinct($sqlWords) AS ws
       |      FROM documents),
       |p AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
       |        AND abs(a.n_chars - b.n_chars) * 5 <= a.n_chars + b.n_chars
       |      WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
       |          len(list_distinct(list_concat(a.ws, b.ws))) >= 0.5)""".stripMargin

  private val ccWalkCtes =
    s"""WITH RECURSIVE
       |$ccPairCtes,
       |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |walk(node, label) AS (
       |  SELECT src, src FROM e
       |  UNION
       |  SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node)""".stripMargin

  private val ccOracleSqlRef =
    s"""$ccWalkCtes
       |SELECT node AS doc_id, min(label) AS component
       |FROM walk GROUP BY node""".stripMargin

  /** k-core peel unrolled as chained CTEs (the pagerank recipe): round i
    * keeps nodes whose degree over the round-(i−1) edge set is ≥ k, and
    * an edge survives only when BOTH endpoints do — byte-for-byte the
    * bounded twin's rule, so the two engines compute the same object at
    * any round budget.
    */
  private val kcoreOracleSql: String = {
    val rounds = 6
    val chain = (1 to rounds).map { i =>
      s"""k$i AS (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= 2),
         |e$i AS (SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN k$i a ON e.src = a.src JOIN k$i b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |$ccPairCtes,
       |e0 AS (SELECT doc_a AS src, doc_b AS dst FROM p
       |  UNION SELECT doc_b, doc_a FROM p),
       |$chain
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
       |FROM e$rounds GROUP BY src""".stripMargin
  }

  /** Static oracles + the dynamically generated IVF family (the latter
    * embed the trained model's centroid literals and the written layout
    * path, which exist only after the registry entries have run —
    * `Verify` dumps `oracleSql` last, so the timing works out).
    */
  def oracleSql: Map[String, String] =
    staticOracleSql ++ ivfOracles ++ autoIvfOracles ++ pqOracles ++ probeOracles ++ irlsOracles ++ pcaOracles ++ sqOracles ++ rpOracle

  // ---- random-projection oracle ---------------------------------------
  // No model state at all: the Rademacher matrix is a deterministic
  // function of (d, m, seed), so the oracle is generated STATICALLY from
  // the same code path the operator runs (d = 64 is the fixture embedding
  // dimension; a drift would surface as a Spark-side column-count change
  // and fail the compare loudly).
  private def rpOracle: Map[String, String] = {
    val (d, m, seed) = (64, 8, 42L)
    val om = graft.ext.Pca.rademacher(d, m, seed)
    val sqrtM = fmtD(math.sqrt(m.toDouble))
    val cols = (0 until m).map { j =>
      val v = (0 until d).map(i => om(i)(j))
      s"round(list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), ${fmtVec(v)}::DOUBLE[]) / $sqrtM, 6) + 0 AS r$j"
    }
    Map("x_embed_rp_project" ->
      s"""SELECT vec_id,
         |  ${cols.mkString(",\n  ")}
         |FROM embeddings""".stripMargin)
  }

  // ---- scalar-quantization oracles ------------------------------------
  // The trained per-dimension lo/span arrays are model state (the IVF/PQ
  // trust model); everything downstream — encode, dequantize, cosine, rank
  // — is exact IEEE double arithmetic both engines reproduce bit-identically
  // (the cosine select mirrors Similarity.cosine's dot/‖a‖/‖b‖ fold, NOT
  // list_cosine_similarity, so even the division order matches).
  private def sqOracles: Map[String, String] =
    sqFor.sole match {
      case Some((model, _)) =>
        val d = model.d
        val prefix =
          s"""WITH mdl AS (SELECT ${fmtVec(model.lo.toSeq)}::DOUBLE[] AS lo,
             |      ${fmtVec(model.span.toSeq)}::DOUBLE[] AS sp),
             |cds AS (SELECT vec_id,
             |      list_transform(generate_series(1, $d), i ->
             |        CAST(least(255, greatest(0, floor((embedding[i]::DOUBLE - mdl.lo[i]) * 255 / mdl.sp[i]))) AS INT)) AS codes
             |    FROM embeddings CROSS JOIN mdl),
             |xh AS (SELECT vec_id AS n_id,
             |      list_transform(generate_series(1, $d), i ->
             |        mdl.lo[i] + CAST(codes[i] AS DOUBLE) * mdl.sp[i] / 255) AS xh
             |    FROM cds CROSS JOIN mdl),
             |q AS (SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_vec
             |      FROM embeddings WHERE vec_id < 5),
             |sq AS (SELECT q_id, n_id, cos, rk FROM (
             |    SELECT q.q_id, x.n_id,
             |      round(list_inner_product(x.xh, q.q_vec) / sqrt(list_inner_product(x.xh, x.xh)) / sqrt(list_inner_product(q.q_vec, q.q_vec)), 6) + 0 AS cos,
             |      CAST(row_number() OVER (PARTITION BY q.q_id
             |        ORDER BY round(list_inner_product(x.xh, q.q_vec) / sqrt(list_inner_product(x.xh, x.xh)) / sqrt(list_inner_product(q.q_vec, q.q_vec)), 6) DESC, x.n_id) AS INT) AS rk
             |    FROM xh x CROSS JOIN q WHERE x.n_id <> q.q_id)
             |  WHERE rk <= 10)""".stripMargin
        Map(
          "x_sq_codes" ->
            s"""$prefix
               |SELECT vec_id, CAST(u.i - 1 AS INT) AS dim, codes[u.i] AS code
               |FROM cds CROSS JOIN (SELECT unnest(generate_series(1, $d)) AS i) u""".stripMargin,
          "x_sq_topk" ->
            s"""$prefix
               |SELECT q_id, n_id, cos, rk FROM sq""".stripMargin,
          "x_sq_recall" ->
            s"""$prefix,
               |c AS (SELECT vec_id AS n_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS n_vec
               |      FROM embeddings),
               |brute AS (SELECT q_id, n_id FROM (
               |    SELECT q.q_id, c.n_id,
               |      row_number() OVER (PARTITION BY q.q_id
               |        ORDER BY round(list_cosine_similarity(q.q_vec, c.n_vec), 6) DESC, c.n_id) AS rk
               |    FROM q JOIN c ON c.n_id <> q.q_id)
               |  WHERE rk <= 10)
               |SELECT b.q_id,
               |  CAST(sum(CASE WHEN s.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) / 10.0 AS recall_at_10
               |FROM brute b LEFT JOIN sq s ON b.q_id = s.q_id AND b.n_id = s.n_id
               |GROUP BY b.q_id""".stripMargin)
      case _ => Map.empty // zero or ambiguous model state: rows-only fallback
    }

  // ---- PCA oracles ----------------------------------------------------
  // The trained mean/components are model state (same trust model as
  // IVF/PQ/probe literals); projection and its per-component variance are
  // exact round-6 arithmetic both engines reproduce.
  private def pcaProjectSql(mdl: graft.ext.Pca.PcaModel): String = {
    val pcols = mdl.components.toSeq.zipWithIndex.map { case (v, i) =>
      val off = fmtD(graft.ext.Pca.meanOffset(mdl, i))
      s"round(list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), ${fmtVec(v.toSeq)}::DOUBLE[]) - $off, 6) + 0 AS p$i"
    }
    s"""SELECT vec_id,
       |  ${pcols.mkString(",\n  ")}
       |FROM embeddings""".stripMargin
  }

  private def pcaOracles: Map[String, String] = {
    val exact = pcaFor.sole match {
      case Some(mdl) =>
        val projectSql = pcaProjectSql(mdl)
        val wcols = mdl.components.toSeq.zipWithIndex.map { case (v, i) =>
          val off = fmtD(graft.ext.Pca.meanOffset(mdl, i))
          val sd = fmtD(math.sqrt(math.max(mdl.eigenvalues(i), 1e-12)))
          s"round((list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), ${fmtVec(v.toSeq)}::DOUBLE[]) - $off) / $sd, 6) + 0 AS w$i"
        }
        Map("x_embed_pca_project" -> projectSql,
          "x_embed_pca_whiten" ->
            s"""SELECT vec_id,
               |  ${wcols.mkString(",\n  ")}
               |FROM embeddings""".stripMargin,
          "x_embed_pca_var" ->
            s"""WITH pr AS ($projectSql),
               |u AS (SELECT 0 AS component, p0 AS p FROM pr
               |  UNION ALL SELECT 1, p1 FROM pr
               |  UNION ALL SELECT 2, p2 FROM pr
               |  UNION ALL SELECT 3, p3 FROM pr)
               |SELECT component, ${Util.sqlDavg("p * p")} AS var_captured
               |FROM u GROUP BY 1""".stripMargin)
      case _ => Map.empty[String, String]
    }
    val sketched = pcaSkFor.sole match {
      case Some(mdl) =>
        Map("x_embed_pca_sketch" -> pcaProjectSql(mdl))
      case _ => Map.empty[String, String]
    }
    exact ++ sketched
  }

  // ---- linear-probe oracles -------------------------------------------
  // The moments entry has a fully static oracle (below, in
  // staticOracleSql); the scores oracle embeds the ridge-trained weights
  // as double literals — same trust model as the IVF/PQ model state.
  private def probeOracles: Map[String, String] =
    probeFor.sole match {
      case Some((w, b)) =>
        val scoresSql =
          s"""SELECT vec_id,
             |  round(list_inner_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |    ${fmtVec(w.toSeq)}::DOUBLE[]) + ${fmtD(b)}, 6) + 0 AS score
             |FROM embeddings""".stripMargin
        Map("x_probe_scores" -> scoresSql,
          "x_probe_eval" ->
            s"""WITH s AS ($scoresSql)
               |SELECT e.label, ${Util.sqlCount()} AS n,
               |  ${Util.sqlDavg("s.score")} AS mean_pred,
               |  ${Util.sqlDavg("abs(s.score - e.label)")} AS mae
               |FROM s JOIN embeddings e USING (vec_id)
               |GROUP BY 1""".stripMargin)
      case _ => Map.empty
    }

  // ---- IRLS quality-gate oracles ---------------------------------------
  // Per Newton round, the INCOMING weights are frozen as double literals
  // and DuckDB re-derives eta → mu → mu' → every Hessian/gradient cell
  // with the identical (correctly-rounded IEEE) expression tree — the
  // algebraic sigmoid uses only +,−,×,÷,abs, so no transcendental crosses
  // engines (see graft.ext.Irls). Scores embed the final weights.
  private def irlsOracles: Map[String, String] =
    irlsFor.sole match {
      case Some(m) =>
        val d1 = m.dim + 1 // |z| = dims + bias; gradient cells use j = dim+1
        def roundCtes(t: Int): String = {
          val (w, b) = m.preWeights(t - 1)
          s"""b$t AS (SELECT
             |    list_concat(list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |      [CAST(1.0 AS DOUBLE)]) AS z,
             |    round(list_inner_product(
             |      list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |      ${fmtVec(w.toSeq)}::DOUBLE[]) + ${fmtD(b)}, 6) AS eta,
             |    CAST(label < 5 AS DOUBLE) AS y
             |  FROM embeddings WHERE vec_id % 5 = 0),
             |m$t AS (SELECT z,
             |    0.5 * (1 + eta / (1 + abs(eta))) AS mu,
             |    0.5 / ((1 + abs(eta)) * (1 + abs(eta))) AS s, y
             |  FROM b$t),
             |c$t AS (
             |  SELECT ii.i AS i, jj.j AS j, (s * z[ii.i + 1]) * z[jj.j + 1] AS p
             |  FROM m$t
             |  CROSS JOIN (SELECT unnest(range(0, $d1)) AS i) ii
             |  CROSS JOIN (SELECT unnest(range(0, $d1)) AS j) jj
             |  WHERE jj.j >= ii.i
             |  UNION ALL
             |  SELECT ii.i, $d1, (mu - y) * z[ii.i + 1]
             |  FROM m$t CROSS JOIN (SELECT unnest(range(0, $d1)) AS i) ii),
             |s$t AS (SELECT CAST($t AS INT) AS round,
             |    CAST(i AS INT) AS i, CAST(j AS INT) AS j,
             |    CAST(round(sum(CAST(p AS DECIMAL(28,10))), 6) AS DOUBLE) AS v
             |  FROM c$t GROUP BY 1, 2, 3)""".stripMargin
        }
        val nRounds = m.preWeights.size
        val trainSql =
          s"""WITH ${(1 to nRounds).map(roundCtes).mkString(",\n")}
             |${(1 to nRounds).map(t => s"SELECT * FROM s$t")
                .mkString("\nUNION ALL ")}""".stripMargin
        val scoresSql =
          s"""WITH e AS (SELECT vec_id,
             |    round(list_inner_product(
             |      list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |      ${fmtVec(m.w.toSeq)}::DOUBLE[]) + ${fmtD(m.b)}, 6) AS eta
             |  FROM embeddings)
             |SELECT vec_id,
             |  round(0.5 * (1 + eta / (1 + abs(eta))), 6) + 0 AS quality
             |FROM e""".stripMargin
        val evalSql =
          s"""WITH e AS (SELECT vec_id,
             |    round(list_inner_product(
             |      list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |      ${fmtVec(m.w.toSeq)}::DOUBLE[]) + ${fmtD(m.b)}, 6) AS eta,
             |    CAST(label < 5 AS INT) AS y
             |  FROM embeddings WHERE vec_id % 5 = 1),
             |q AS (SELECT round(0.5 * (1 + eta / (1 + abs(eta))), 6) AS quality, y
             |  FROM e)
             |SELECT
             |  CAST(sum(CASE WHEN quality >= 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             |  CAST(sum(CASE WHEN quality >= 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             |  CAST(sum(CASE WHEN quality < 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
             |  CAST(sum(CASE WHEN quality < 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(CAST(sum(CASE WHEN (quality >= 0.5) = (y = 1) THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*), 6) + 0 AS accuracy
             |FROM q""".stripMargin
        val calibSql =
          s"""WITH e AS (SELECT vec_id,
             |    round(list_inner_product(
             |      list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |      ${fmtVec(m.w.toSeq)}::DOUBLE[]) + ${fmtD(m.b)}, 6) AS eta,
             |    CAST(label < 5 AS BIGINT) AS y
             |  FROM embeddings WHERE vec_id % 5 = 1),
             |q AS (SELECT round(0.5 * (1 + eta / (1 + abs(eta))), 6) AS quality, y
             |  FROM e),
             |bq AS (SELECT
             |    CAST(LEAST(CAST(floor(quality * 10) AS BIGINT), 9) AS INT) AS bin,
             |    quality, y FROM q)
             |SELECT bin, ${Util.sqlCount()} AS n,
             |  CAST(sum(y) AS BIGINT) AS n_pos,
             |  ${Util.sqlDavg("quality")} AS mean_pred,
             |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) + 0 AS pos_rate
             |FROM bq GROUP BY 1""".stripMargin
        Map("x_classifier_train" -> trainSql,
          "x_classifier_train_scores" -> scoresSql,
          "x_classifier_eval" -> evalSql,
          "x_classifier_calibration" -> calibSql)
      case _ => Map.empty
    }

  // ---- IVF oracles ----------------------------------------------------
  // Everything downstream of Lloyd training is exact, deterministic
  // arithmetic: given the centroids (nlist × dim doubles — model state),
  // the nearest-list assignment, probe selection, and top-k re-rank are
  // plain round-6 cosine + row_number, which DuckDB reproduces
  // bit-identically (same contract as x_sim_topk_brute). The centroids are
  // inlined as double literals via Double.toString (shortest round-trip
  // repr — parses back to the identical bits in both engines).

  /** Double literal that parses to the IDENTICAL bits in DuckDB. A bare
    * decimal literal ("0.5252062082290649") is parsed as DECIMAL first and
    * the common-scale integer can exceed 2⁵³, so `::DOUBLE` loses the last
    * ulp — one ulp is invisible under round(,6) almost everywhere, but at a
    * floor()/threshold boundary it flips a bucket (found by x_sq_codes).
    * E-notation forces the direct string→double parse, which is exact.
    */
  private def fmtD(x: Double): String = {
    // non-finite values would render as "InfinityE0"/"NaNE0" — SQL neither
    // engine parses, surfacing as an opaque oracle-generation failure far
    // from the bad embedding that caused it. Fail loudly at the source.
    require(java.lang.Double.isFinite(x),
      s"fmtD: non-finite value $x cannot be rendered as a SQL double " +
        "literal — an embedding/centroid carries Inf/NaN upstream")
    val s = java.lang.Double.toString(x)
    if (s.contains("E")) s else s + "E0"
  }

  private def fmtVec(v: Seq[Double]): String =
    v.map(fmtD).mkString("[", ", ", "]")

  /** Shared CTE prefix: centroid VALUES table, corpus as double lists,
    * query set, and the nprobe=4 probe selection (round-6 cosine desc,
    * cid asc — Spark's max(struct(sim, -cid)) order).
    */
  private def ivfCtePrefix(model: Similarity.IvfModel): String = {
    val cents = model.centroids.sortBy(_._1)
      .map { case (cid, v) => s"($cid, ${fmtVec(v)}::DOUBLE[])" }
      .mkString(",\n      ")
    s"""WITH cents AS (SELECT * FROM (VALUES
       |      $cents) t(cid, c_vec)),
       |c AS (SELECT vec_id AS n_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS n_vec
       |      FROM embeddings),
       |q AS (SELECT n_id AS q_id, n_vec AS q_vec FROM c WHERE n_id < 5),
       |probes AS (SELECT cid, q_id, q_vec FROM (
       |    SELECT q.q_id, q.q_vec, ct.cid,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round(list_cosine_similarity(q.q_vec, ct.c_vec), 6) DESC, ct.cid) AS rk
       |    FROM q CROSS JOIN cents ct)
       |  WHERE rk <= 4)""".stripMargin
  }

  /** Probe + exact top-10 re-rank over an assignment relation named `a`
    * (cid, n_id, n_vec) — identical tiebreaks to Similarity.ivfProbe.
    */
  private val ivfProbeSelect =
    """SELECT q_id, n_id, cos, rk FROM (
      |  SELECT p.q_id, a.n_id,
      |    round(list_cosine_similarity(p.q_vec, a.n_vec), 6) + 0 AS cos,
      |    CAST(row_number() OVER (PARTITION BY p.q_id
      |      ORDER BY round(list_cosine_similarity(p.q_vec, a.n_vec), 6) DESC, a.n_id) AS INT) AS rk
      |  FROM a JOIN probes p ON a.cid = p.cid AND a.n_id <> p.q_id)
      |WHERE rk <= 10""".stripMargin

  // nearest-centroid assignment recomputed in SQL (self-contained — checks
  // assign + probe end-to-end from the embeddings table alone)
  private val ivfAssignCte =
    """a AS (SELECT cid, n_id, n_vec FROM (
      |    SELECT c.n_id, c.n_vec, ct.cid,
      |      row_number() OVER (PARTITION BY c.n_id
      |        ORDER BY round(list_cosine_similarity(c.n_vec, ct.c_vec), 6) DESC, ct.cid) AS rk
      |    FROM c CROSS JOIN cents ct)
      |  WHERE rk = 1)""".stripMargin

  /** SemDeDup drop rule in SQL over a given centroid-literal prefix —
    * shared by the pinned-nlist and autoNlist oracles so both pin the
    * identical drop semantics, differing only in the trained model.
    */
  private def semDedupSql(prefix: String): String =
    s"""$prefix,
       |$ivfAssignCte,
       |pairs AS (SELECT a2.n_id AS vb
       |  FROM a a1 JOIN a a2 ON a1.cid = a2.cid AND a1.n_id < a2.n_id
       |  WHERE round(list_cosine_similarity(a1.n_vec, a2.n_vec), 6) >= 0.4)
       |SELECT n_id AS vec_id, cid FROM a
       |WHERE n_id NOT IN (SELECT vb FROM pairs)""".stripMargin

  /** Semantic-decontamination rule in SQL over a centroid-literal prefix
    * (eval slice = n_id % 10 = 0) — shared like [[semDedupSql]].
    */
  private def semContamSql(prefix: String): String =
    s"""$prefix,
       |$ivfAssignCte,
       |hits AS (SELECT c2.n_id,
       |    round(list_cosine_similarity(b.n_vec, c2.n_vec), 6) AS cos
       |  FROM a b JOIN a c2 ON b.cid = c2.cid
       |  WHERE b.n_id % 10 = 0 AND c2.n_id % 10 <> 0)
       |SELECT n_id AS vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
       |  max(cos) AS max_cos
       |FROM hits WHERE cos >= 0.4 GROUP BY n_id""".stripMargin

  /** Dynamic oracles for the autoNlist-served semantic entries: the SAME
    * drop/contamination SQL as the pinned-nlist family, generated from
    * the auto model's trained centroids (whose COUNT varies with the
    * corpus — that variation is the knob under test, and the per-SF
    * regeneration keeps the compare exact at every SF).
    */
  private def autoIvfOracles: Map[String, String] =
    autoIvfFor.sole match {
      case Some((model, _)) =>
        val prefix = ivfCtePrefix(model)
        Map("x_dedup_semantic_auto" -> semDedupSql(prefix),
          "x_decontam_semantic_auto" -> semContamSql(prefix))
      case _ => Map.empty // zero or ambiguous model state: rows-only fallback
    }

  private def ivfOracles: Map[String, String] =
    ivfFor.sole match {
      case Some((model, _)) =>
        val prefix = ivfCtePrefix(model)
        val annIvf = s"$prefix,\n$ivfAssignCte\n$ivfProbeSelect"
        // recall@10: ivf hits vs exact brute-force top-10, per query
        val recall =
          s"""$prefix,
             |$ivfAssignCte,
             |ivf AS ($ivfProbeSelect),
             |brute AS (SELECT q_id, n_id FROM (
             |    SELECT q.q_id, c.n_id,
             |      row_number() OVER (PARTITION BY q.q_id
             |        ORDER BY round(list_cosine_similarity(q.q_vec, c.n_vec), 6) DESC, c.n_id) AS rk
             |    FROM q JOIN c ON c.n_id <> q.q_id)
             |  WHERE rk <= 10)
             |SELECT b.q_id,
             |  CAST(sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) / 10.0 AS recall_at_10
             |FROM brute b LEFT JOIN ivf i ON b.q_id = i.q_id AND b.n_id = i.n_id
             |GROUP BY b.q_id""".stripMargin
        // SemDeDup: same centroids + assignment CTEs; a doc is dropped iff
        // a same-cluster doc with a SMALLER id is >= 0.4 cosine-similar
        // (0.4 is the corpus's near-dup level — x_dedup_embed_exact's
        // threshold; the fixture has no pairs above 0.52)
        val sem = semDedupSql(prefix)
        // SemDeDup recall vs the cluster-free rule: true-drop set from the
        // exact all-pairs join (no cid constraint), sem-drop set from the
        // same-cluster join; sem ⊆ true so the LEFT JOIN hit-count IS the
        // intersection size
        val semRecall =
          s"""$prefix,
             |$ivfAssignCte,
             |semdrop AS (SELECT DISTINCT a2.n_id AS vec_id
             |  FROM a a1 JOIN a a2 ON a1.cid = a2.cid AND a1.n_id < a2.n_id
             |  WHERE round(list_cosine_similarity(a1.n_vec, a2.n_vec), 6) >= 0.4),
             |truedrop AS (SELECT DISTINCT c2.n_id AS vec_id
             |  FROM c c1 JOIN c c2 ON c1.n_id < c2.n_id
             |  WHERE round(list_cosine_similarity(c1.n_vec, c2.n_vec), 6) >= 0.4)
             |SELECT CAST(count(*) AS BIGINT) AS n_true_dropped,
             |  CAST(count(s.vec_id) AS BIGINT) AS n_sem_dropped,
             |  CASE WHEN count(*) = 0 THEN CAST(1.0 AS DOUBLE)
             |       ELSE CAST(count(s.vec_id) AS DOUBLE) / count(*) END AS recall
             |FROM truedrop t LEFT JOIN semdrop s ON t.vec_id = s.vec_id""".stripMargin
        // maintained ANN index == the nearest-assignment recompute (the
        // incremental maintainer's whole contract, checked cross-engine)
        val annIncr =
          s"""$prefix,
             |$ivfAssignCte
             |SELECT n_id, cid, CAST(len(n_vec) AS INT) AS dim FROM a""".stripMargin
        // incremental SemDeDup over the maintained index: batch (n_id %
        // 10 = 0) novel iff NO same-cluster corpus vector is >= 0.4
        // cosine-similar — the oracle recomputes assignment + the
        // cross-split pair rule from scratch, so maintained-state serving
        // == recompute is the checked contract
        val semIncr =
          s"""$prefix,
             |$ivfAssignCte,
             |matched AS (SELECT DISTINCT b.n_id
             |  FROM a b JOIN a c2 ON b.cid = c2.cid
             |  WHERE b.n_id % 10 = 0 AND c2.n_id % 10 <> 0
             |    AND round(list_cosine_similarity(b.n_vec, c2.n_vec), 6) >= 0.4)
             |SELECT n_id AS vec_id FROM a
             |WHERE n_id % 10 = 0
             |  AND n_id NOT IN (SELECT n_id FROM matched)""".stripMargin
        // semantic decontamination: eval slice (n_id % 10 = 0) vs the
        // corpus rest — per contaminated corpus vector the same-cluster
        // eval-hit count and max cosine at threshold 0.4 (assignment and
        // the cross-split rule recomputed from the embeddings table, so
        // the entry's one-cached-assignment serving == recompute)
        val decontamSem = semContamSql(prefix)
        val base = Map("x_sim_ann_ivf" -> annIvf, "x_sim_ivf_recall" -> recall,
          "x_dedup_semantic" -> sem, "x_dedup_semantic_recall" -> semRecall,
          "x_ann_incremental" -> annIncr,
          "x_dedup_semantic_incremental" -> semIncr,
          "x_decontam_semantic" -> decontamSem)
        // layout oracle only when the cid-partitioned parquet was written
        // this run: DuckDB reads the SERVED FILES themselves, so the check
        // covers the on-disk layout, not just the arithmetic
        ivfLayoutFor.sole match {
          case Some(path) =>
            base + ("x_sim_ivf_layout" ->
              s"""$prefix,
                 |a AS (SELECT CAST(cid AS INT) AS cid, n_id, n_vec
                 |      FROM read_parquet('$path/*/*.parquet', hive_partitioning = true))
                 |$ivfProbeSelect""".stripMargin)
          case None => base
        }
      case _ => Map.empty // zero or ambiguous model state: rows-only fallback
    }

  // ---- PQ oracles -----------------------------------------------------
  // Same contract as the IVF family: everything downstream of Lloyd is
  // exact deterministic arithmetic, so given the trained codebook literals
  // (model state) DuckDB reproduces encode + ADC bit-identically. The ADC
  // sums are written as explicit per-subspace terms (l0.d + … + l7.d) so
  // the fold order matches Spark's aggregate() lambda exactly — an
  // unordered SQL SUM() could differ in the last ulp.
  private def pqCtePrefix(model: Pq.PqModel): String = {
    val rows = model.codebook.sortBy(t => (t._1, t._2)).map { case (s, k, v) =>
      // csq literal via the same sequential fold the native dot kernel uses
      val csq = v.foldLeft(0.0)((a, x) => a + x * x)
      s"($s, $k, ${fmtVec(v)}::DOUBLE[], ${fmtD(csq)})"
    }.mkString(",\n      ")
    val d = model.dsub
    s"""WITH cb AS (SELECT * FROM (VALUES
       |      $rows) t(sub, code, c_vec, csq)),
       |c AS (SELECT vec_id AS n_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS n_vec
       |      FROM embeddings),
       |subs AS (SELECT n_id, ss.sub, n_vec[ss.sub * $d + 1 : ss.sub * $d + $d] AS x
       |      FROM c CROSS JOIN (SELECT unnest(range(0, ${model.m})) AS sub) ss),
       |enc AS (SELECT n_id, sub, code FROM (
       |    SELECT su.n_id, su.sub, cb.code,
       |      row_number() OVER (PARTITION BY su.n_id, su.sub
       |        ORDER BY round(list_inner_product(su.x, su.x)
       |          - 2 * list_inner_product(su.x, cb.c_vec) + cb.csq, 6) ASC, cb.code ASC) AS rk
       |    FROM subs su JOIN cb ON cb.sub = su.sub)
       |  WHERE rk = 1)""".stripMargin
  }

  /** The shared probe CTEs + the ADC select over them (relations: `q`
    * queries, `lut` per-query subspace dot tables, `qn` query norms, `cp`
    * codes pivoted to one column per subspace).
    */
  private def pqProbeSql(model: Pq.PqModel, fetch: Int = 10): String = {
    val (m, ksub, d) = (model.m, model.ksub, model.dsub)
    val pivots = (0 until m).map(s => s"max(CASE WHEN sub = $s THEN code END) AS c$s").mkString(", ")
    val joins = (1 until m).map(s =>
      s"JOIN lut l$s ON l$s.q_id = l0.q_id AND l$s.sub = $s AND l$s.code = cp.c$s").mkString("\n  ")
    val dSum = (0 until m).map(s => s"l$s.d").mkString(" + ")
    val cSum = (0 until m).map(s => s"l$s.csq").mkString(" + ")
    val adc = s"round(($dSum) / qn.qn / sqrt($cSum), 6)"
    s"""q AS (SELECT n_id AS q_id, n_vec AS q_vec FROM c WHERE n_id < 5),
       |lut AS (SELECT q.q_id, cb.sub, cb.code,
       |      list_inner_product(q.q_vec[cb.sub * $d + 1 : cb.sub * $d + $d], cb.c_vec) AS d,
       |      cb.csq
       |    FROM q CROSS JOIN cb),
       |qn AS (SELECT q_id, sqrt(list_inner_product(q_vec, q_vec)) AS qn FROM q),
       |cp AS (SELECT n_id, $pivots FROM enc GROUP BY n_id),
       |pq AS (SELECT q_id, n_id, adc, rk FROM (
       |    SELECT l0.q_id, cp.n_id, $adc AS adc,
       |      CAST(row_number() OVER (PARTITION BY l0.q_id
       |        ORDER BY $adc DESC, cp.n_id) AS INT) AS rk
       |    FROM cp
       |    JOIN lut l0 ON l0.sub = 0 AND l0.code = cp.c0
       |    $joins
       |    JOIN qn ON qn.q_id = l0.q_id
       |    WHERE cp.n_id <> l0.q_id)
       |  WHERE rk <= $fetch)""".stripMargin
  }

  private def pqOracles: Map[String, String] =
    pqFor.sole match {
      case Some((model, _)) =>
        val prefix = pqCtePrefix(model)
        val codes =
          s"""$prefix
             |SELECT n_id AS vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code
             |FROM enc""".stripMargin
        val topk =
          s"""$prefix,
             |${pqProbeSql(model)}
             |SELECT q_id, n_id, adc, rk FROM pq""".stripMargin
        val recall =
          s"""$prefix,
             |${pqProbeSql(model)},
             |brute AS (SELECT q_id, n_id FROM (
             |    SELECT q.q_id, c.n_id,
             |      row_number() OVER (PARTITION BY q.q_id
             |        ORDER BY round(list_cosine_similarity(q.q_vec, c.n_vec), 6) DESC, c.n_id) AS rk
             |    FROM q JOIN c ON c.n_id <> q.q_id)
             |  WHERE rk <= 10)
             |SELECT b.q_id,
             |  CAST(sum(CASE WHEN p.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) / 10.0 AS recall_at_10
             |FROM brute b LEFT JOIN pq p ON b.q_id = p.q_id AND b.n_id = p.n_id
             |GROUP BY b.q_id""".stripMargin
        // refine: ADC shortlist at fetch=40 (codes only), exact-cosine
        // re-rank of the sliver — same round-6/tiebreak contract as the
        // brute-force select
        val refine =
          s"""$prefix,
             |${pqProbeSql(model, fetch = 40)}
             |SELECT q_id, n_id, cos, rk FROM (
             |  SELECT p.q_id, p.n_id,
             |    round(list_cosine_similarity(q.q_vec, c.n_vec), 6) + 0 AS cos,
             |    CAST(row_number() OVER (PARTITION BY p.q_id
             |      ORDER BY round(list_cosine_similarity(q.q_vec, c.n_vec), 6) DESC, p.n_id) AS INT) AS rk
             |  FROM pq p JOIN c ON c.n_id = p.n_id JOIN q ON q.q_id = p.q_id)
             |WHERE rk <= 10""".stripMargin
        // IVF×PQ: both model-literal sets in one statement — probed lists
        // via the IVF centroids, per-row cost via the PQ codebook; the
        // assignment CTE mirrors Similarity.assignNearest's round-6 /
        // smallest-cid contract and the ADC select mirrors pqProbeSql's
        val ivfpq = ivfFor.sole match {
          case Some((ivfModel, _)) =>
            val cents = ivfModel.centroids.sortBy(_._1)
              .map { case (cid, v) => s"($cid, ${fmtVec(v)}::DOUBLE[])" }
              .mkString(",\n      ")
            val (m, _, d) = (model.m, model.ksub, model.dsub)
            val pivots = (0 until m).map(s2 =>
              s"max(CASE WHEN sub = $s2 THEN code END) AS c$s2").mkString(", ")
            val joins = (1 until m).map(s2 =>
              s"JOIN lut l$s2 ON l$s2.q_id = p.q_id AND l$s2.sub = $s2 AND l$s2.code = cp.c$s2")
              .mkString("\n  ")
            val dSum = (0 until m).map(s2 => s"l$s2.d").mkString(" + ")
            val cSum = (0 until m).map(s2 => s"l$s2.csq").mkString(" + ")
            val adc = s"round(($dSum) / qn.qn / sqrt($cSum), 6)"
            Map("x_pq_ivf_topk" ->
              s"""$prefix,
                 |cents AS (SELECT * FROM (VALUES
                 |      $cents) t2(cid, c_vec)),
                 |q AS (SELECT n_id AS q_id, n_vec AS q_vec FROM c WHERE n_id < 5),
                 |probes AS (SELECT cid, q_id FROM (
                 |    SELECT q.q_id, ct.cid,
                 |      row_number() OVER (PARTITION BY q.q_id
                 |        ORDER BY round(list_cosine_similarity(q.q_vec, ct.c_vec), 6) DESC, ct.cid) AS rk
                 |    FROM q CROSS JOIN cents ct)
                 |  WHERE rk <= 4),
                 |asg AS (SELECT cid, n_id FROM (
                 |    SELECT cc.n_id, ct.cid,
                 |      row_number() OVER (PARTITION BY cc.n_id
                 |        ORDER BY round(list_cosine_similarity(cc.n_vec, ct.c_vec), 6) DESC, ct.cid) AS rk
                 |    FROM c cc CROSS JOIN cents ct)
                 |  WHERE rk = 1),
                 |lut AS (SELECT q.q_id, cb.sub, cb.code,
                 |      list_inner_product(q.q_vec[cb.sub * $d + 1 : cb.sub * $d + $d], cb.c_vec) AS d,
                 |      cb.csq
                 |    FROM q CROSS JOIN cb),
                 |qn AS (SELECT q_id, sqrt(list_inner_product(q_vec, q_vec)) AS qn FROM q),
                 |cp AS (SELECT n_id, $pivots FROM enc GROUP BY n_id)
                 |SELECT q_id, n_id, adc, rk FROM (
                 |  SELECT p.q_id, cp.n_id, $adc AS adc,
                 |    CAST(row_number() OVER (PARTITION BY p.q_id
                 |      ORDER BY $adc DESC, cp.n_id) AS INT) AS rk
                 |  FROM asg a JOIN probes p ON a.cid = p.cid AND a.n_id <> p.q_id
                 |  JOIN cp ON cp.n_id = a.n_id
                 |  JOIN lut l0 ON l0.q_id = p.q_id AND l0.sub = 0 AND l0.code = cp.c0
                 |  $joins
                 |  JOIN qn ON qn.q_id = p.q_id)
                 |WHERE rk <= 10""".stripMargin)
          case _ => Map.empty
        }
        Map("x_pq_codes" -> codes, "x_pq_topk" -> topk, "x_pq_recall" -> recall,
          "x_pq_refine" -> refine) ++ ivfpq
      case _ => Map.empty // zero or ambiguous model state: rows-only fallback
    }

  private val staticOracleSql: Map[String, String] = Map(
    "x_text_stats" ->
      s"""SELECT doc_id, n_chars,
         |  CAST(len($sqlWords) AS INT) AS n_words,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS n_tokens,
         |  CAST(len(list_distinct($sqlWords)) AS INT) AS n_distinct,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len($sqlWords) AS avg_word_len,
         |  CAST(${sqlStopCount(graft.ext.TextOps.DefaultStopwords)} AS DOUBLE) / len($sqlWords) AS stop_ratio
         |FROM documents""".stripMargin,

    "x_text_langid" ->
      s"""WITH sc AS (SELECT doc_id, lang, text,
         |  ${sqlStopCount(Seq("the", "a", "of"))} AS s_en,
         |  ${sqlStopCount(Seq("der", "die", "und"))} AS s_de,
         |  ${sqlStopCount(Seq("le", "la", "et"))} AS s_fr,
         |  ${sqlStopCount(Seq("el", "los", "y"))} AS s_es
         |FROM documents)
         |SELECT doc_id, lang,
         |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr'
         |       ELSE 'es' END AS predicted
         |FROM sc""".stripMargin,

    "x_text_fingerprint" ->
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform($sqlWords, w -> CAST(length(w)*31 + ascii(w) AS BIGINT))),
         |    (acc, x) -> (acc * 131 + x) % 2147483647) AS fp
         |FROM documents""".stripMargin,

    "x_text_inverted_index" ->
      s"""SELECT term, ${sqlCount()} AS df,
         |  list_aggr(list_sort(list(DISTINCT doc_id)), 'string_agg', ',') AS postings
         |FROM (SELECT doc_id, unnest(list_distinct($sqlWords)) AS term
         |      FROM documents)
         |GROUP BY term""".stripMargin,

    // maintained == recompute: the incremental ledger must serve exactly
    // the batch index
    "x_index_incremental" ->
      s"""SELECT term, ${sqlCount()} AS df,
         |  list_aggr(list_sort(list(DISTINCT doc_id)), 'string_agg', ',') AS postings
         |FROM (SELECT doc_id, unnest(list_distinct($sqlWords)) AS term
         |      FROM documents)
         |GROUP BY term""".stripMargin,

    "x_text_search" ->
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct($sqlWords)) AS term
         |              FROM documents),
         |d AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM toks GROUP BY term),
         |q AS (SELECT term, df FROM d ORDER BY df, term LIMIT 3),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
         |SELECT doc_id,
         |  CAST(sum(n_total // df) AS BIGINT) AS score,
         |  ${sqlCount()} AS n_hits
         |FROM toks JOIN q USING (term), n
         |GROUP BY doc_id
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,

    "x_text_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($sqlWords) AS term FROM documents),
         |d AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |      FROM toks GROUP BY term),
         |q AS (SELECT term, df FROM d ORDER BY df, term LIMIT 3),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM documents)
         |SELECT doc_id,
         |  CAST(sum(n_total // df) AS BIGINT) AS tf_score,
         |  ${sqlCount()} AS n_term_hits
         |FROM toks JOIN q USING (term), n
         |GROUP BY doc_id
         |ORDER BY tf_score DESC, doc_id LIMIT 10""".stripMargin,

    "x_retrieval_kw_topk" ->
      s"""WITH $retrievalKwCtes
         |SELECT q_id, doc_id, kw_score,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY kw_score DESC, doc_id) AS INT) AS kw_rank
         |FROM kw QUALIFY kw_rank <= 10""".stripMargin,

    // CAST(1 AS DOUBLE): a bare 1.0 literal is DECIMAL in DuckDB and the
    // division would run in decimal, not the IEEE double the engine uses
    "x_retrieval_hybrid_rrf" ->
      s"""WITH $retrievalKwCtes,
         |kwr AS (SELECT q_id, doc_id,
         |    CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY kw_score DESC, doc_id) AS INT) AS kw_rank
         |  FROM kw QUALIFY kw_rank <= 10),
         |c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |      FROM embeddings),
         |qv AS (SELECT * FROM c WHERE vec_id < 5),
         |vecr AS (SELECT q_id, n_id AS doc_id, rk AS vec_rank FROM (
         |    SELECT qv.vec_id AS q_id, c.vec_id AS n_id,
         |      CAST(row_number() OVER (PARTITION BY qv.vec_id
         |        ORDER BY round(list_cosine_similarity(qv.v, c.v), 6) DESC,
         |                 c.vec_id) AS INT) AS rk
         |    FROM qv JOIN c ON c.vec_id <> qv.vec_id)
         |  WHERE rk <= 10),
         |fused AS (SELECT
         |    coalesce(kwr.q_id, vecr.q_id) AS q_id,
         |    coalesce(kwr.doc_id, vecr.doc_id) AS doc_id,
         |    CAST(coalesce(kwr.kw_rank, 0) AS INT) AS kw_rank,
         |    CAST(coalesce(vecr.vec_rank, 0) AS INT) AS vec_rank,
         |    round(coalesce(CAST(1 AS DOUBLE) / (60 + kwr.kw_rank), 0)
         |        + coalesce(CAST(1 AS DOUBLE) / (60 + vecr.vec_rank), 0), 6) AS rrf
         |  FROM kwr FULL JOIN vecr
         |    ON kwr.q_id = vecr.q_id AND kwr.doc_id = vecr.doc_id)
         |SELECT q_id, doc_id, kw_rank, vec_rank, rrf,
         |  CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf DESC, doc_id) AS INT) AS rk
         |FROM fused QUALIFY rk <= 10""".stripMargin,

    "x_text_scrub" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    'https?://[^ ]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT) AS n_nums
        |FROM documents""".stripMargin,

    "x_dedup_exact" ->
      s"""SELECT min(doc_id) AS canonical_id, ${sqlCount()} AS n_copies
         |FROM documents GROUP BY text""".stripMargin,

    "x_dedup_incremental" ->
      """SELECT doc_id FROM documents b
        |WHERE source = 'src0'
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.source <> 'src0' AND c.text = b.text)""".stripMargin,

    // the maintained-ledger probe shares the batch operator's oracle
    // VERBATIM (maintained == recompute is the checked contract)
    "x_dedup_exact_ledger" ->
      """SELECT doc_id FROM documents b
        |WHERE source = 'src0'
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.source <> 'src0' AND c.text = b.text)""".stripMargin,

    // md5-surrogate SimHash: token hash = first 15 hex chars of md5 parsed
    // as a 60-bit int (same parse both engines); bit b of the signature is
    // the per-bit majority. Mirrors SimHash.signaturesMd5 exactly.
    "x_simhash_md5_sigs" ->
      """WITH toks AS (
        |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents WHERE text IS NOT NULL)),
        |n AS (SELECT doc_id, count(*) AS cnt FROM toks GROUP BY 1),
        |bits AS (
        |  SELECT doc_id, b, count(*) FILTER (WHERE (h >> b) & 1 = 1) AS ones
        |  FROM toks CROSS JOIN (SELECT unnest(range(0, 60)) AS b)
        |  GROUP BY 1, 2)
        |SELECT bits.doc_id,
        |  CAST(sum(CASE WHEN 2 * ones > cnt THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits JOIN n USING (doc_id)
        |GROUP BY 1""".stripMargin,

    // All-pairs hamming scan over the md5-surrogate signatures — the Spark
    // side answers via chunk-pigeonhole banding (ONE keyed shuffle), equal
    // by pigeonhole exactness for maxDist ≤ 3, so this oracle pins the
    // banding machinery itself, not just the signature math.
    "x_simhash_md5_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |        FROM documents WHERE text IS NOT NULL)),
        |n AS (SELECT doc_id, count(*) AS cnt FROM toks GROUP BY 1),
        |bits AS (
        |  SELECT doc_id, b, count(*) FILTER (WHERE (h >> b) & 1 = 1) AS ones
        |  FROM toks CROSS JOIN (SELECT unnest(range(0, 60)) AS b)
        |  GROUP BY 1, 2),
        |sigs AS (
        |  SELECT bits.doc_id,
        |    CAST(sum(CASE WHEN 2 * ones > cnt THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |  FROM bits JOIN n USING (doc_id)
        |  GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    // incremental md5-twin hamming dedup: novel = batch (doc_id % 10 = 0)
    // docs within hamming <= 3 of NO corpus doc, brute-forced batch x
    // corpus; Spark answers via one pigeonhole chunk join (exact at
    // maxDist <= 3). Shared VERBATIM by the batch recompute
    // (x_dedup_simhash_md5_incr) and the ledger probe
    // (x_dedup_simhash_ledger) — maintained == recompute, one oracle pins
    // both. NULL-text batch docs never enter sigs and come back novel
    // through the anti-join, mirroring the engine contract.
    "x_dedup_simhash_md5_incr" -> simhashIncrSql,
    "x_dedup_simhash_ledger" -> simhashIncrSql,

    // md5-surrogate MinHash: shingle = lowercase word 3-gram; two base
    // hashes from disjoint md5 hex ranges, reduced mod 2^31-1; minhash_i =
    // min over shingles of (h1 + i*h2) mod p. Mirrors
    // MinHashDedup.signaturesMd5 exactly (h=16).
    "x_minhash_md5_sigs" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2]))) AS s
        |  FROM documents WHERE text IS NOT NULL),
        |hs AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h1,
        |    CAST(concat('0x', substr(md5(s), 16, 15)) AS BIGINT) % 2147483647 AS h2
        |  FROM sh)
        |SELECT doc_id, CAST(i AS INT) AS i,
        |  CAST(min((h1 + i * h2) % 2147483647) AS BIGINT) AS minhash
        |FROM hs CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
        |GROUP BY 1, 2""".stripMargin,

    // LSH banding (4 bands x 4 rows) + exact-Jaccard verify over the
    // md5-surrogate signatures. The oracle brute-forces "any band's
    // sub-signature equal" over all pairs; the Spark side answers via ONE
    // band-key shuffle — equal results pin the banding machinery itself.
    "x_minhash_md5_pairs" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2]))) AS s
        |  FROM documents WHERE text IS NOT NULL),
        |hs AS (
        |  SELECT doc_id, s,
        |    CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h1,
        |    CAST(concat('0x', substr(md5(s), 16, 15)) AS BIGINT) % 2147483647 AS h2
        |  FROM sh),
        |sigs AS (
        |  SELECT doc_id, list(CAST(m AS BIGINT) ORDER BY i) AS sig
        |  FROM (SELECT doc_id, i, min((h1 + i * h2) % 2147483647) AS m
        |        FROM hs CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
        |        GROUP BY 1, 2)
        |  GROUP BY 1),
        |sets AS (SELECT doc_id, list(DISTINCT s) AS ws FROM sh GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_intersect(sa.ws, sb.ws)) AS DOUBLE) /
        |    len(list_distinct(list_concat(sa.ws, sb.ws))) AS jaccard
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |JOIN sets sa ON sa.doc_id = a.doc_id
        |JOIN sets sb ON sb.doc_id = b.doc_id
        |WHERE (a.sig[1:4] = b.sig[1:4] OR a.sig[5:8] = b.sig[5:8]
        |    OR a.sig[9:12] = b.sig[9:12] OR a.sig[13:16] = b.sig[13:16])
        |  AND CAST(len(list_intersect(sa.ws, sb.ws)) AS DOUBLE) /
        |    len(list_distinct(list_concat(sa.ws, sb.ws))) >= 0.5""".stripMargin,

    // estimator calibration: banded candidates (any-band sub-signature
    // equality, brute-forced here), per pair the component-match fraction
    // and the exact Jaccard — est's divide-by-16 is exact binary on both
    // engines, jaccard is the pairs entry's expression verbatim
    "x_dedup_minhash_estimate" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2]))) AS s
        |  FROM documents WHERE text IS NOT NULL),
        |hs AS (
        |  SELECT doc_id, s,
        |    CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h1,
        |    CAST(concat('0x', substr(md5(s), 16, 15)) AS BIGINT) % 2147483647 AS h2
        |  FROM sh),
        |sigs AS (
        |  SELECT doc_id, list(CAST(m AS BIGINT) ORDER BY i) AS sig
        |  FROM (SELECT doc_id, i, min((h1 + i * h2) % 2147483647) AS m
        |        FROM hs CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
        |        GROUP BY 1, 2)
        |  GROUP BY 1),
        |sets AS (SELECT doc_id, list(DISTINCT s) AS ws FROM sh GROUP BY 1)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(len(list_filter(range(1, 17), i -> a.sig[i] = b.sig[i])) AS DOUBLE)
        |    / 16 AS est,
        |  CAST(len(list_intersect(sa.ws, sb.ws)) AS DOUBLE) /
        |    len(list_distinct(list_concat(sa.ws, sb.ws))) AS jaccard
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |JOIN sets sa ON sa.doc_id = a.doc_id
        |JOIN sets sb ON sb.doc_id = b.doc_id
        |WHERE (a.sig[1:4] = b.sig[1:4] OR a.sig[5:8] = b.sig[5:8]
        |    OR a.sig[9:12] = b.sig[9:12] OR a.sig[13:16] = b.sig[13:16])""".stripMargin,

    // incremental md5-twin fuzzy dedup: novel = batch (doc_id % 10 = 0)
    // docs whose any-band sub-signature collision with the corpus survives
    // the exact-Jaccard >= 0.5 verify against NO corpus doc. The oracle
    // brute-forces batch x corpus; Spark answers via one band-key shuffle.
    // Shared verbatim by the batch recompute (x_dedup_minhash_md5_incr)
    // and the ledger probe (x_dedup_minhash_ledger) — maintained ==
    // recompute is the checked contract, so ONE oracle pins both. Batch
    // docs too short to shingle (or NULL text) never enter `sh` and come
    // back novel through the anti-join, mirroring the engine contract.
    "x_dedup_minhash_md5_incr" -> minhashIncrSql,
    "x_dedup_minhash_ledger" -> minhashIncrSql,

    // linear-probe moments: z = [embedding, 1, label] (66 cells at the
    // fixture's 64-dim embeddings); upper triangle i <= j; per-row products
    // are IEEE-identical, sums follow the exact-decimal scheme — training's
    // entire distributed computation, oracle-checked
    "x_probe_moments" ->
      """WITH z AS (SELECT list_concat(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |    [CAST(1.0 AS DOUBLE), CAST(label AS DOUBLE)]) AS z FROM embeddings),
        |t AS (SELECT ii.i, jj.j, z[ii.i + 1] * z[jj.j + 1] AS p
        |  FROM z
        |  CROSS JOIN (SELECT unnest(range(0, 66)) AS i) ii
        |  CROSS JOIN (SELECT unnest(range(0, 66)) AS j) jj
        |  WHERE jj.j >= ii.i)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
        |  CAST(round(sum(CAST(p AS DECIMAL(28,10))), 6) AS DOUBLE) AS v
        |FROM t GROUP BY 1, 2""".stripMargin,

    "x_dedup_jaccard_3gram" ->
      s"""WITH t AS (SELECT doc_id, source, n_chars,
         |  list_distinct(list_transform(generate_series(1, len($sqlWords) - 2),
         |    i -> $sqlWords[i] || ' ' || $sqlWords[i+1] || ' ' || $sqlWords[i+2])) AS ws
         |  FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
         |    len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
         |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
         |  AND abs(a.n_chars - b.n_chars) * 5 <= a.n_chars + b.n_chars
         |WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
         |    len(list_distinct(list_concat(a.ws, b.ws))) >= 0.2""".stripMargin,

    "x_dedup_containment" ->
      s"""WITH t AS (SELECT doc_id,
         |  list_distinct(list_transform(generate_series(1, len($sqlWords) - 2),
         |    i -> $sqlWords[i] || ' ' || $sqlWords[i+1] || ' ' || $sqlWords[i+2])) AS ws
         |  FROM documents),
         |rare AS (SELECT list(g) AS gl FROM (
         |  SELECT g FROM (SELECT unnest(ws) AS g FROM t) GROUP BY g
         |  HAVING count(*) <= 100))
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(a.ws) AS containment
         |FROM t a JOIN t b
         |  ON (len(a.ws) < len(b.ws) OR (len(a.ws) = len(b.ws) AND a.doc_id < b.doc_id))
         |CROSS JOIN rare
         |WHERE len(a.ws) >= 1
         |  AND len(list_intersect(list_intersect(a.ws, b.ws), rare.gl)) >= 1
         |  AND CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) / len(a.ws) >= 0.4""".stripMargin,

    "x_text_quality" ->
      s"""SELECT doc_id,
         |  CAST(len($sqlWords) BETWEEN 20 AND 1000 AS INT) AS r_len,
         |  CAST(CAST(length(replace(text, ' ', '')) AS DOUBLE) / len($sqlWords)
         |       BETWEEN 3.0 AND 10.0 AS INT) AS r_wordlen,
         |  CAST(CAST(${sqlStopCount(graft.ext.TextOps.DefaultStopwords)} AS DOUBLE)
         |       / len($sqlWords) >= 0.05 AS INT) AS r_stop,
         |  CAST(CAST(len(list_distinct($sqlWords)) AS DOUBLE)
         |       / len($sqlWords) >= 0.3 AS INT) AS r_diverse,
         |  $sqlQualityScore AS score
         |FROM documents""".stripMargin,

    "x_topk_agg" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin,

    "x_sample_mod" ->
      "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 = 0",

    "x_text_vocab" ->
      s"""WITH t AS (SELECT unnest(list_distinct($sqlWords)) AS tok FROM documents),
         |v AS (SELECT tok, ${sqlCount()} AS df FROM t GROUP BY tok)
         |SELECT tok, df,
         |  CAST(row_number() OVER (ORDER BY df DESC, tok) AS INT) AS token_id
         |FROM v""".stripMargin,

    // the typo augmentation re-derived in SQL, then ALL-PAIRS levenshtein
    // over the vocabulary — the exact truth the deletion-neighborhood
    // join must reproduce (DuckDB levenshtein = unit-cost code-point
    // Levenshtein, the EditDist.lev definition)
    "x_vocab_editdist_pairs" ->
      s"""$editAugSql
         |SELECT a.word AS word_a, b.word AS word_b,
         |  CAST(levenshtein(a.word, b.word) AS INT) AS dist
         |FROM v a JOIN v b ON a.word < b.word
         |WHERE length(a.word) <= 32 AND length(b.word) <= 32
         |  AND levenshtein(a.word, b.word) <= 1""".stripMargin,

    "x_vocab_editdist2_pairs" ->
      s"""$editAugSql
         |SELECT a.word AS word_a, b.word AS word_b,
         |  CAST(levenshtein(a.word, b.word) AS INT) AS dist
         |FROM v a JOIN v b ON a.word < b.word
         |WHERE length(a.word) <= 32 AND length(b.word) <= 32
         |  AND levenshtein(a.word, b.word) <= 2""".stripMargin,

    "x_vocab_typo_canonical" -> typoCanonicalSql,
    "x_vocab_typo_canonical2" -> typoCanonical2Sql,

    // maintained == recompute: the ledger-served map must equal the batch
    // operator bit for bit, so ONE oracle pins both entries — at each
    // correction radius
    "x_vocab_typo_ledger" -> typoCanonicalSql,
    "x_vocab_typo_ledger2" -> typoCanonical2Sql,

    "x_profile_columns" ->
      """SELECT 'o_orderkey' AS "column",
        |  CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct FROM orders
        |UNION ALL SELECT 'o_custkey',
        |  CAST(count(*) - count(o_custkey) AS BIGINT),
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderstatus',
        |  CAST(count(*) - count(o_orderstatus) AS BIGINT),
        |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_totalprice',
        |  CAST(count(*) - count(o_totalprice) AS BIGINT),
        |  CAST(count(DISTINCT o_totalprice) AS BIGINT) FROM orders
        |UNION ALL SELECT 'o_orderpriority',
        |  CAST(count(*) - count(o_orderpriority) AS BIGINT),
        |  CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders""".stripMargin,

    "x_quality_checks" ->
      """SELECT 'dup_orderkeys' AS "check", CAST(count(*) AS BIGINT) AS v
        |FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING count(*) > 1)
        |UNION ALL
        |SELECT 'null_custkeys', CAST(count(*) - count(o_custkey) AS BIGINT) FROM orders
        |UNION ALL
        |SELECT 'orphan_orders', CAST(count(*) AS BIGINT)
        |FROM orders o WHERE NOT EXISTS
        |  (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)""".stripMargin,

    "x_skew_profile" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |           FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS top10_n
        |      FROM (SELECT n FROM c ORDER BY n DESC, user_id LIMIT 10)),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |        CAST(sum(n) AS BIGINT) AS n_rows,
        |        CAST(max(n) AS BIGINT) AS max_n FROM c)
        |SELECT n_keys, n_rows, max_n,
        |  CAST(max_n AS DOUBLE) * n_keys / n_rows AS max_over_mean,
        |  CAST(top10_n AS DOUBLE) / n_rows AS top10_share
        |FROM a, t""".stripMargin,

    "x_text_cooccur" ->
      s"""WITH toks AS (SELECT doc_id, unnest(list_distinct($sqlWords)) AS tok
         |              FROM documents),
         |top AS (SELECT tok FROM (SELECT tok, count(*) AS tf FROM toks GROUP BY tok)
         |        ORDER BY tf DESC, tok LIMIT 10),
         |k AS (SELECT doc_id, tok FROM toks JOIN top USING (tok))
         |SELECT a.tok AS tok_a, b.tok AS tok_b, ${sqlCount()} AS n_docs
         |FROM k a JOIN k b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |GROUP BY 1, 2""".stripMargin,

    // symbol pairs: for i in 1..len, (char_i, char_{i+1}) with the last
    // pair closing on the end-of-word marker; weighted by word frequency.
    // generate_series is uncorrelated (DuckDB-portable), so 64 is a HARD
    // CAP on mirrored word length: a >64-char word would lose tail pairs
    // in the oracle only and hash-mismatch loudly. Fixture max is 8;
    // raise the bound with the fixture, it costs only filtered rows.
    // full BPE TRAINING unrolled (see bpeMergesOracle): 10 chained argmax
    // rounds over the symbolized vocab — flips the trained merge list from
    // rows-only to hash-matched
    "x_bpe_merges" -> bpeMergesOracle(10),

    // encoding with the trained merges, applied in rank order via the same
    // delimited-string replaces — equals the greedy encode loop for merges
    // produced by BPE training (see bpeTokenizeOracle)
    "x_bpe_tokenize" -> bpeTokenizeOracle(10),

    // the byte-level twin: identical recipe, alphabet = UTF-8 bytes as
    // hex pairs via hex(encode(word)) (see byteSymbolize)
    "x_bpe_bytes_merges" -> bpeMergesOracle(10, byteSymbolize(_, _)),
    "x_bpe_bytes_tokenize" ->
      bpeTokenizeOracle(10, byteSymbolize(_, _), tokCol = "n_byte_tokens"),

    // per-source byte-fallback counts under the frozen merges: the same
    // replace-chain encode as x_bpe_bytes_tokenize, with single-byte
    // tokens (len-2 hex symbols) counted per source. Sources whose docs
    // have no words still appear with zero counts (the Spark aggregate
    // sums per-doc zeros), hence the documents LEFT JOIN.
    "x_bpe_oov_drift" -> bpeOovDriftOracle(10),

    "x_bpe_pairs" ->
      """WITH w AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  WHERE length(word) > 0 GROUP BY word),
        |p AS (SELECT substr(word, i, 1) AS sym_a,
        |    CASE WHEN i < length(word) THEN substr(word, i + 1, 1)
        |         ELSE '</w>' END AS sym_b,
        |    freq
        |  FROM w, generate_series(1, 64) t(i)
        |  WHERE i <= length(word))
        |SELECT sym_a, sym_b, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2
        |ORDER BY cnt DESC, sym_a, sym_b LIMIT 20""".stripMargin,

    "x_text_vocab_coverage" ->
      s"""WITH t AS (SELECT unnest($sqlWords) AS tok FROM documents),
         |v AS (SELECT tok, ${sqlCount()} AS tf FROM t GROUP BY tok),
         |r AS (SELECT tok, tf,
         |    CAST(row_number() OVER (ORDER BY tf DESC, tok) AS INT) AS rank,
         |    CAST(sum(tf) OVER (ORDER BY tf DESC, tok
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |    CAST(sum(tf) OVER () AS BIGINT) AS total
         |  FROM v)
         |SELECT rank, tok, tf, CAST(cum AS DOUBLE) / total AS cum_share
         |FROM r WHERE rank <= 20""".stripMargin,

    "x_pipeline_train_corpus" ->
      s"""WITH scored AS (SELECT doc_id, text, n_chars,
         |    $sqlQualityScore AS score
         |  FROM documents),
         |gated AS (SELECT * FROM scored WHERE score >= 3),
         |canon AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text)
         |SELECT CASE WHEN doc_id % 10 < 8 THEN 'train'
         |            WHEN doc_id % 10 < 9 THEN 'val' ELSE 'test' END AS split,
         |  ${sqlCount()} AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM gated WHERE doc_id IN (SELECT doc_id FROM canon)
         |GROUP BY 1""".stripMargin,

    // end-to-end ingest: every gate recomputed from scratch — quality via
    // the shared rule battery, novelty via the shared brute-force
    // any-band + exact-Jaccard CTEs (the SAME `matched` the ledger and
    // md5-twin oracles use), decontamination via the shared 3-gram
    // overlap form — so ONE oracle pins the composed maintained-state
    // serve chain against full recomputation
    "x_pipeline_ingest" ->
      s"""WITH $minhashIncrCtes,
         |batch AS (SELECT doc_id, text FROM documents
         |          WHERE doc_id % 10 = 0 AND source <> 'src0'),
         |tg AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(string_split(text, ' ')) - 2),
         |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS ng
         |  FROM batch),
         |eg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
         |    generate_series(1, len(string_split(text, ' ')) - 2),
         |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')))) AS ng
         |  FROM documents WHERE source = 'src0'),
         |dirty AS (SELECT DISTINCT tg.doc_id FROM tg JOIN eg USING (ng)),
         |flags AS (SELECT b.doc_id,
         |    COALESCE(CAST(($sqlQualityScore) >= 3 AS INT), 0) AS quality_ok,
         |    CAST(m.doc_id IS NULL AS INT) AS novel,
         |    CAST(dd.doc_id IS NULL AS INT) AS clean
         |  FROM batch b
         |  LEFT JOIN matched m ON m.doc_id = b.doc_id
         |  LEFT JOIN dirty dd ON dd.doc_id = b.doc_id)
         |SELECT doc_id, quality_ok, novel, clean,
         |  CAST(quality_ok = 1 AND novel = 1 AND clean = 1 AS INT) AS keep
         |FROM flags""".stripMargin,

    "x_dedup_embed_exact" ->
      """WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_cosine_similarity(a.v, b.v), 6) + 0 AS cos
        |FROM c a JOIN c b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4""".stripMargin,

    "x_mine_triplets" ->
      """WITH c AS (SELECT vec_id AS n_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS n_vec
        |           FROM embeddings),
        |a AS (SELECT n_id AS q_id, n_vec AS q_vec FROM c WHERE n_id < 20),
        |s AS (SELECT a.q_id, c.n_id, round(list_cosine_similarity(a.q_vec, c.n_vec), 6) + 0 AS cos
        |      FROM a JOIN c ON c.n_id <> a.q_id),
        |pos AS (SELECT q_id, n_id AS pos_id, cos AS pos_cos FROM (
        |    SELECT q_id, n_id, cos,
        |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk FROM s)
        |  WHERE rk = 1),
        |neg AS (SELECT q_id, n_id AS neg_id, cos AS neg_cos FROM (
        |    SELECT s.q_id, s.n_id, s.cos,
        |      row_number() OVER (PARTITION BY s.q_id ORDER BY s.cos DESC, s.n_id) AS rk
        |    FROM s JOIN pos USING (q_id)
        |    WHERE s.cos < least(0.35, pos.pos_cos))
        |  WHERE rk = 1)
        |SELECT pos.q_id AS anchor_id, pos_id, pos_cos, neg_id, neg_cos
        |FROM pos JOIN neg ON pos.q_id = neg.q_id""".stripMargin,

    // md5-hyperplane LSH twin: the signs are DERIVED in SQL (md5 top bit),
    // independently of the Spark side's JVM-md5 literals — if either
    // derivation drifted, buckets would differ and this row would fail.
    // Candidates = any band's full bucket equal; verify = exact cosine.
    "x_embed_lsh_md5_pairs" ->
      """WITH c AS (SELECT vec_id AS n_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |sg AS (SELECT b.band, p.p, d.d,
        |    CASE WHEN substr(md5(concat(b.band, ':', p.p, ':', d.d)), 1, 1) < '8'
        |         THEN 1.0 ELSE -1.0 END AS s
        |  FROM (SELECT unnest(range(0, 4)) AS band) b
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS p) p
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS d) d),
        |proj AS (SELECT c.n_id, sg.band, sg.p,
        |    round(sum(c.v[sg.d + 1] * sg.s), 6) AS pr
        |  FROM c CROSS JOIN sg GROUP BY 1, 2, 3),
        |bk AS (SELECT n_id, band,
        |    CAST(sum(CASE WHEN pr > 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
        |  FROM proj GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT a.n_id AS vec_a, b.n_id AS vec_b
        |  FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket AND a.n_id < b.n_id)
        |SELECT ca.vec_a, ca.vec_b, round(list_cosine_similarity(x.v, y.v), 6) + 0 AS cos
        |FROM cand ca JOIN c x ON x.n_id = ca.vec_a JOIN c y ON y.n_id = ca.vec_b
        |WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.4""".stripMargin,

    "x_dedup_jaccard" ->
      s"""WITH t AS (SELECT doc_id, source, n_chars, list_distinct($sqlWords) AS ws
         |           FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
         |    len(list_distinct(list_concat(a.ws, b.ws))) AS jaccard
         |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
         |  AND abs(a.n_chars - b.n_chars) * 5 <= a.n_chars + b.n_chars
         |WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
         |    len(list_distinct(list_concat(a.ws, b.ws))) >= 0.5""".stripMargin,

    "x_decontaminate" -> decontamSql,

    // the maintained ledger's contract IS the batch recompute
    "x_decontam_incremental" -> decontamSql,

    "x_decontam_fraction" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |d AS (SELECT doc_id, source,
        |    list_distinct(list_transform(generate_series(1, len(ws) - 2),
        |                  i -> array_to_string(ws[i:i+2], ' '))) AS ngs
        |  FROM w),
        |t AS (SELECT doc_id, unnest(ngs) AS ng FROM d WHERE source <> 'src0'),
        |e AS (SELECT DISTINCT unnest(ngs) AS ng FROM d WHERE source = 'src0'),
        |o AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |      FROM t JOIN e USING (ng) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(len(d.ngs) AS BIGINT) AS n_grams,
        |  coalesce(o.n_overlap, 0) AS n_overlap,
        |  CASE WHEN len(d.ngs) > 0
        |       THEN CAST(coalesce(o.n_overlap, 0) AS DOUBLE) / len(d.ngs)
        |       ELSE 0.0 END AS frac
        |FROM d LEFT JOIN o USING (doc_id)
        |WHERE d.source <> 'src0'""".stripMargin,

    "x_decontaminate_normalized" ->
      """WITH raw AS (SELECT doc_id, source,
        |    CASE WHEN source = 'src0' THEN replace(upper(text), ' ', ', ')
        |         ELSE text END AS t
        |  FROM documents),
        |w AS (SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(
        |      lower(regexp_replace(t, '[^A-Za-z0-9\s]', ' ', 'g')), '\s+'),
        |      x -> len(x) > 0) AS ws
        |  FROM raw),
        |d AS (SELECT doc_id, source,
        |    list_distinct(list_transform(generate_series(1, len(ws) - 2),
        |                  i -> array_to_string(ws[i:i+2], ' '))) AS ngs
        |  FROM w),
        |t AS (SELECT doc_id, unnest(ngs) AS ng FROM d WHERE source <> 'src0'),
        |e AS (SELECT DISTINCT unnest(ngs) AS ng FROM d WHERE source = 'src0')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |FROM t JOIN e USING (ng) GROUP BY doc_id""".stripMargin,

    "x_text_stats_ws" ->
      """WITH m AS (SELECT doc_id,
        |    ' ' || chr(9) || replace(text, ' ', '  ') || chr(10) || ' ' AS mt
        |  FROM documents),
        |w AS (SELECT doc_id, mt,
        |    list_filter(regexp_split_to_array(mt, '\s+'), t -> len(t) > 0) AS ws
        |  FROM m),
        |g AS (SELECT doc_id, mt, ws,
        |    list_transform(generate_series(1, len(ws) - 1),
        |                   i -> array_to_string(ws[i:i+1], ' ')) AS gs
        |  FROM w)
        |SELECT doc_id,
        |  CAST(len(ws) AS INT) AS n_words_ws,
        |  CAST(len(string_split(mt, ' ')) AS INT) AS n_words_naive,
        |  CAST(len(list_distinct(ws)) AS INT) AS n_distinct_ws,
        |  CAST(len(gs) AS INT) AS n_2grams_ws,
        |  array_to_string(gs[1:3], '|') AS first_2grams
        |FROM g""".stripMargin,

    "x_pack_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, ws,
        |    unnest(generate_series(0, (len(ws) - 1) // 64)) AS chunk_id
        |  FROM w)
        |SELECT doc_id,
        |  CAST(chunk_id AS INT) AS chunk_id,
        |  CAST(least(64, len(ws) - chunk_id * 64) AS INT) AS chunk_tokens,
        |  array_to_string(ws[chunk_id * 64 + 1 : chunk_id * 64 + 64], ' ') AS chunk_text
        |FROM c""".stripMargin,

    "x_pack_sequences" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, n_tokens, cum_tokens,
        |  CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS seq_id
        |FROM c""".stripMargin,

    "x_mix_temperature" ->
      """WITH c AS (SELECT source, count(*) AS cd FROM documents GROUP BY source),
        |w AS (SELECT source, cd, CAST(floor(sqrt(cd)) AS BIGINT) AS wd FROM c),
        |s AS (SELECT sum(wd) AS sw FROM w),
        |n AS (SELECT source, least(cd, (300 * wd) // sw) AS nd FROM w CROSS JOIN s),
        |r AS (SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.source, CAST(rk AS BIGINT) AS mix_rank
        |FROM r JOIN n USING(source) WHERE rk <= nd""".stripMargin,

    // schedule: Hamilton quotas (counts as weights) + per-source md5 rank
    // + integer even-spread position; window partitions are the oracle's
    // tool (the engine side uses the distributed prefix rank)
    "x_mix_schedule" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS w
        |           FROM documents GROUP BY source),
        |s AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM c),
        |b AS (SELECT source, (300 * w) // sw AS q, (300 * w) % sw AS rem
        |      FROM c CROSS JOIN s),
        |qr AS (SELECT source, q,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |    300 - CAST(sum(q) OVER () AS BIGINT) AS leftover
        |  FROM b),
        |quota AS (SELECT source,
        |    CAST(q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
        |  FROM qr),
        |r AS (SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS mix_rank
        |  FROM documents)
        |SELECT r.doc_id, r.source, mix_rank,
        |  (mix_rank - 1) * 300 // quota AS pos
        |FROM r JOIN quota USING (source)
        |WHERE quota > 0 AND mix_rank <= quota""".stripMargin,

    // Hamilton allocation: floors + largest remainders, pure integer;
    // DuckDB's sum(BIGINT) is HUGEINT, cast back before the arithmetic
    "x_mix_quota" ->
      """WITH c AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS w
        |           FROM documents GROUP BY source),
        |s AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM c),
        |b AS (SELECT source, (1000 * w) // sw AS q, (1000 * w) % sw AS rem
        |      FROM c CROSS JOIN s),
        |r AS (SELECT source, q,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |    1000 - CAST(sum(q) OVER () AS BIGINT) AS leftover
        |  FROM b)
        |SELECT source,
        |  CAST(q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
        |FROM r""".stripMargin,

    "x_shuffle_epoch" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5('3:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |    AS epoch_pos
        |FROM documents""".stripMargin,

    "x_curriculum" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS score
        |  FROM documents),
        |r AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM t),
        |n AS (SELECT count(*) AS cnt FROM t),
        |p AS (SELECT doc_id,
        |    CAST((rk - 1) * 4 // cnt AS INT) + 1 AS phase FROM r CROSS JOIN n)
        |SELECT doc_id, phase,
        |  CAST(row_number() OVER (PARTITION BY phase
        |    ORDER BY md5('7:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
        |    AS phase_pos
        |FROM p""".stripMargin,

    "x_text_vocab_incr" ->
      """WITH e AS (SELECT unnest(list_distinct(string_split(text, ' '))) AS tok
        |  FROM documents)
        |SELECT tok, CAST(count(*) AS BIGINT) AS df FROM e GROUP BY tok""".stripMargin,

    "x_pack_manifest" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
        |  FROM t),
        |p AS (SELECT doc_id, n_tokens,
        |    (cum_tokens - n_tokens) // 2048 AS seq_id FROM c)
        |SELECT seq_id, CAST(count(*) AS INT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id), '|') AS doc_ids
        |FROM p GROUP BY seq_id""".stripMargin,

    // shard export manifest: the x_mix_schedule CTEs + the running token
    // total in CONSUMPTION order (pos, source, mix_rank), 512-token
    // sequences, 8 sequences per shard, then the per-shard aggregation —
    // checked against the manifest READ BACK from the written artifact
    "x_pack_shards" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS w
        |           FROM documents GROUP BY source),
        |s AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM c),
        |b AS (SELECT source, (300 * w) // sw AS q, (300 * w) % sw AS rem
        |      FROM c CROSS JOIN s),
        |qr AS (SELECT source, q,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |    300 - CAST(sum(q) OVER () AS BIGINT) AS leftover
        |  FROM b),
        |quota AS (SELECT source,
        |    CAST(q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
        |  FROM qr),
        |r AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS mix_rank
        |  FROM documents),
        |sel AS (SELECT r.doc_id, r.source, r.n_tokens, mix_rank,
        |    (mix_rank - 1) * 300 // quota AS pos
        |  FROM r JOIN quota USING (source)
        |  WHERE quota > 0 AND mix_rank <= quota),
        |cum AS (SELECT *, CAST(sum(n_tokens)
        |      OVER (ORDER BY pos, source, mix_rank) AS BIGINT) AS cum_tokens
        |  FROM sel),
        |sh AS (SELECT *, ((cum_tokens - n_tokens) // 512) // 8 AS shard_id,
        |    (cum_tokens - n_tokens) // 512 AS seq_id
        |  FROM cum)
        |SELECT shard_id, CAST(count(DISTINCT seq_id) AS INT) AS n_seqs,
        |  CAST(count(*) AS INT) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
        |  CAST(min(seq_id) AS BIGINT) AS first_seq,
        |  CAST(max(seq_id) AS BIGINT) AS last_seq,
        |  CAST(sum(doc_id * (pos + 1)) AS BIGINT) AS doc_checksum
        |FROM sh GROUP BY shard_id""".stripMargin,

    // read-path validation: shard count re-derived from the same packing
    // CTEs; a clean export must report ZERO order violations and ZERO
    // manifest mismatches — the engine side computes these from the
    // written files, the oracle pins the contract values
    "x_pack_shards_read" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS w
        |           FROM documents GROUP BY source),
        |s AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM c),
        |b AS (SELECT source, (300 * w) // sw AS q, (300 * w) % sw AS rem
        |      FROM c CROSS JOIN s),
        |qr AS (SELECT source, q,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk,
        |    300 - CAST(sum(q) OVER () AS BIGINT) AS leftover
        |  FROM b),
        |quota AS (SELECT source,
        |    CAST(q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS quota
        |  FROM qr),
        |r AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS mix_rank
        |  FROM documents),
        |sel AS (SELECT r.doc_id, r.source, r.n_tokens, mix_rank,
        |    (mix_rank - 1) * 300 // quota AS pos
        |  FROM r JOIN quota USING (source)
        |  WHERE quota > 0 AND mix_rank <= quota),
        |cum AS (SELECT *, CAST(sum(n_tokens)
        |      OVER (ORDER BY pos, source, mix_rank) AS BIGINT) AS cum_tokens
        |  FROM sel),
        |sh AS (SELECT ((cum_tokens - n_tokens) // 512) // 8 AS shard_id
        |  FROM cum)
        |SELECT CAST(count(DISTINCT shard_id) AS BIGINT) AS n_shards,
        |  CAST(0 AS BIGINT) AS order_violations,
        |  CAST(0 AS BIGINT) AS manifest_mismatches
        |FROM sh""".stripMargin,

    "x_text_clean_unicode" ->
      """WITH m AS (SELECT doc_id,
        |    chr(7) || 'bom:' || chr(65279) || replace(text, ' ', chr(160)) ||
        |    chr(13) || chr(9) || 'tail' || chr(2) AS mt
        |  FROM documents),
        |c AS (SELECT doc_id, mt,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(mt,
        |        '[' || chr(1) || '-' || chr(8) || chr(11) || '-' || chr(31) ||
        |          chr(127) || chr(128) || '-' || chr(159) || ']', '', 'g'),
        |      '[' || chr(8203) || '-' || chr(8205) || chr(65279) || ']', '', 'g'),
        |    '[' || chr(160) || chr(5760) || chr(8192) || '-' || chr(8202) ||
        |      chr(8239) || chr(8287) || chr(12288) || ']', ' ', 'g')
        |    AS clean_text
        |  FROM m)
        |SELECT doc_id, clean_text,
        |  CAST(len(mt) AS INT) AS n_raw,
        |  CAST(len(clean_text) AS INT) AS n_clean
        |FROM c""".stripMargin,

    "x_text_boilerplate" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |l AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(ws) - 2),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS gl FROM w),
        |e AS (SELECT doc_id, unnest(gl) AS gram FROM l)
        |SELECT gram, CAST(count(*) AS BIGINT) AS df
        |FROM e GROUP BY gram HAVING count(*) >= 5""".stripMargin,

    "x_text_boiler_remove" ->
      """WITH m AS (SELECT doc_id,
        |    text || chr(10) || 'COPYRIGHT FOOTER' || chr(10) || 'SRC ' || source ||
        |    chr(10) || 'DOC ' || CAST(doc_id AS VARCHAR) || chr(10) || 'COPYRIGHT FOOTER' AS mt
        |  FROM documents),
        |el AS (SELECT doc_id, unnest(list_distinct(string_split(mt, chr(10)))) AS line FROM m),
        |boiler AS (SELECT line FROM el WHERE len(line) > 0
        |  GROUP BY line HAVING count(*) >= 10),
        |bl AS (SELECT coalesce(list(line), []) AS bs FROM boiler)
        |SELECT m.doc_id,
        |  array_to_string(list_filter(string_split(m.mt, chr(10)),
        |    x -> NOT list_contains(bl.bs, x)), chr(10)) AS clean_text,
        |  CAST(len(string_split(m.mt, chr(10))) AS INT) AS n_lines,
        |  CAST(len(string_split(m.mt, chr(10))) -
        |       len(list_filter(string_split(m.mt, chr(10)), x -> NOT list_contains(bl.bs, x))) AS INT) AS n_removed
        |FROM m CROSS JOIN bl""".stripMargin,

    "x_text_boiler_coverage" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |l AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(ws) - 2),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS gl FROM w),
        |e AS (SELECT doc_id, unnest(gl) AS gram FROM l),
        |b AS (SELECT gram FROM e GROUP BY gram HAVING count(*) >= 5),
        |m AS (SELECT doc_id, count(*) AS nb FROM e JOIN b USING(gram)
        |      GROUP BY doc_id)
        |SELECT l.doc_id,
        |  CAST(len(gl) AS INT) AS n_spans,
        |  CAST(coalesce(m.nb, 0) AS INT) AS n_boiler,
        |  CAST(coalesce(m.nb, 0) AS DOUBLE) / len(gl) AS boiler_ratio
        |FROM l LEFT JOIN m USING(doc_id)
        |WHERE len(gl) >= 1""".stripMargin,

    // the maintained-ledger probe: the coverage oracle with df still over
    // the FULL corpus, output restricted to the probed slice
    "x_text_boiler_ledger" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |l AS (SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, len(ws) - 2),
        |    i -> array_to_string(ws[i:i+2], ' '))) AS gl FROM w),
        |e AS (SELECT doc_id, unnest(gl) AS gram FROM l),
        |b AS (SELECT gram FROM e GROUP BY gram HAVING count(*) >= 5),
        |m AS (SELECT doc_id, count(*) AS nb FROM e JOIN b USING(gram)
        |      GROUP BY doc_id)
        |SELECT l.doc_id,
        |  CAST(len(gl) AS INT) AS n_spans,
        |  CAST(coalesce(m.nb, 0) AS INT) AS n_boiler,
        |  CAST(coalesce(m.nb, 0) AS DOUBLE) / len(gl) AS boiler_ratio
        |FROM l LEFT JOIN m USING(doc_id)
        |JOIN documents d ON d.doc_id = l.doc_id
        |WHERE len(gl) >= 1 AND d.source = 'src0'""".stripMargin,

    "x_quality_gate_lang" ->
      """WITH s AS (SELECT doc_id, lang,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS score
        |  FROM documents),
        |t AS (SELECT lang, quantile_cont(score, 0.25) AS thr
        |      FROM s GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.score
        |FROM s JOIN t USING(lang) WHERE s.score >= t.thr""".stripMargin,

    "x_budget_select" ->
      """WITH t AS (SELECT doc_id,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS score,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, score, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, score, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens - n_tokens < 10000""".stripMargin,

    "x_pack_windows" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (SELECT doc_id, ws,
        |    unnest(generate_series(0,
        |      CASE WHEN len(ws) <= 64 THEN 0
        |           ELSE (len(ws) - 64 + 31) // 32 END)) AS win_id
        |  FROM w)
        |SELECT doc_id,
        |  CAST(win_id AS INT) AS win_id,
        |  CAST(least(64, len(ws) - win_id * 32) AS INT) AS win_tokens,
        |  array_to_string(ws[win_id * 32 + 1 : win_id * 32 + 64], ' ') AS win_text
        |FROM c""".stripMargin,

    "x_text_repetition" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |    list_transform(generate_series(1, len(ws) - 1),
        |                   i -> array_to_string(ws[i:i+1], ' ')) AS gs
        |  FROM w)
        |SELECT doc_id,
        |  CAST(len(gs) AS INT) AS n_2grams,
        |  CAST(list_max(list_transform(list_distinct(gs),
        |       x -> len(list_filter(gs, y -> y = x)))) AS INT) AS top2_count,
        |  CAST(list_max(list_transform(list_distinct(gs),
        |       x -> len(list_filter(gs, y -> y = x)))) AS DOUBLE) / len(gs) AS top2_frac,
        |  CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs) AS distinct2_ratio
        |FROM g WHERE len(gs) >= 1""".stripMargin,

    "x_domain_quota" ->
      s"""WITH sc AS (SELECT doc_id, source, lang, n_chars,
         |    $sqlQualityScore AS score
         |  FROM documents)
         |SELECT doc_id, source, lang, n_chars FROM (
         |  SELECT doc_id, source, lang, n_chars,
         |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rk
         |  FROM sc)
         |WHERE rk <= 20""".stripMargin,

    "x_sample_stratified" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % (CASE lang WHEN 'en' THEN 3 WHEN 'de' THEN 2 ELSE 1 END) = 0""".stripMargin,

    // the maintained ledger vs the DIRECT aggregate of the whole history —
    // the incremental-view-maintenance contract, exact by decimal sums
    "x_agg_incremental" ->
      s"""SELECT event_type,
         |  CAST(floor(epoch(ts)) AS BIGINT) // 3600 % 24 AS hr,
         |  ${Util.sqlCount("1")} AS n,
         |  ${Util.sqlDsum("value")} AS total,
         |  min(CAST(value AS DOUBLE)) AS vmin,
         |  max(CAST(value AS DOUBLE)) AS vmax,
         |  CAST(round(sum(CAST(value AS DECIMAL(28,10))), 6) AS DOUBLE)
         |    / CAST(count(1) AS BIGINT) AS vavg
         |FROM events GROUP BY 1, 2""".stripMargin,

    // time travel: the direct aggregate over waves 0-1 (event_id mod 3 <= 1)
    // must equal the ledger's retained version 1
    "x_state_time_travel" ->
      s"""SELECT event_type,
         |  CAST(floor(epoch(ts)) AS BIGINT) // 3600 % 24 AS hr,
         |  ${Util.sqlCount("1")} AS n,
         |  ${Util.sqlDsum("value")} AS total,
         |  min(CAST(value AS DOUBLE)) AS vmin,
         |  max(CAST(value AS DOUBLE)) AS vmax,
         |  CAST(round(sum(CAST(value AS DECIMAL(28,10))), 6) AS DOUBLE)
         |    / CAST(count(1) AS BIGINT) AS vavg
         |FROM events WHERE event_id % 3 <= 1 GROUP BY 1, 2""".stripMargin,

    // utf8proc's NFC == the JDK's (Unicode normalization-stability policy)
    "x_text_nfc" ->
      """SELECT doc_id,
        |  nfc_normalize(replace(text, 'a', 'a' || chr(769))) AS text_nfc,
        |  CAST(length(replace(text, 'a', 'a' || chr(769))) AS INT) AS len_raw,
        |  CAST(length(nfc_normalize(replace(text, 'a', 'a' || chr(769)))) AS INT) AS len_nfc
        |FROM documents""".stripMargin,

    // mirrors Sampling.sampleKPerGroup: the 13-hex md5 prefix is ordered
    // identically as a fixed-length lowercase hex string and as the 52-bit
    // number the Spark aggregator ranks on; ties fall to doc_id both sides
    "x_sample_group_reservoir" ->
      """SELECT source, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substr(md5('res:' || CAST(doc_id AS VARCHAR)), 1, 13), doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 7""".stripMargin,

    // mirrors Sampling.byWeight: uniform = first 4 md5 hex chars,
    // threshold = floor(weight*65536) as zero-padded lowercase hex —
    // equal-length hex string compare IS the numeric compare
    "x_sample_importance" ->
      s"""WITH sc AS (SELECT doc_id, lang, source,
         |    $sqlQualityScore AS score
         |  FROM documents)
         |SELECT doc_id, lang, source, CAST(score AS INT) AS score FROM sc
         |WHERE score / 4.0 >= 1
         |   OR substr(md5('w:' || CAST(doc_id AS VARCHAR)), 1, 4)
         |      < lpad(lower(to_hex(greatest(0, CAST(floor(score / 4.0 * 65536) AS BIGINT)))),
         |             4, '0')""".stripMargin,

    "x_sample_split" ->
      """WITH t AS (SELECT
        |    substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) AS u
        |  FROM documents)
        |SELECT CASE WHEN u < 'cccc' THEN 'train'
        |            WHEN u < 'e666' THEN 'val' ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM t GROUP BY 1""".stripMargin,

    "x_dedup_cc" -> ccOracleSqlRef,

    // best-rep: same recursive-CTE component fixpoint, quality-desc argmax
    // per component (window over components is the ORACLE's tool; the
    // engine side is a keyed struct-min aggregation)
    "x_dedup_best_rep" ->
      s"""$ccWalkCtes,
         |cc AS (SELECT node AS doc_id, min(label) AS component
         |       FROM walk GROUP BY node),
         |q AS (SELECT doc_id, CAST($sqlQualityScore AS INT) AS q FROM documents)
         |SELECT component, doc_id AS rep_id, CAST(q AS BIGINT) AS rep_quality
         |FROM (SELECT cc.component, cc.doc_id, q.q,
         |        row_number() OVER (PARTITION BY cc.component
         |          ORDER BY q.q DESC, cc.doc_id) AS rk
         |      FROM cc JOIN q USING (doc_id))
         |WHERE rk = 1""".stripMargin,

    "x_graph_kcore" -> kcoreOracleSql,

    // canonical-triple enumeration (p is doc_a < doc_b, so each triangle
    // appears exactly once as a<b<c) — orientation-free, which is the
    // point: the Spark side's degree-ordered orientation must not change
    // the counts
    "x_graph_triangles" ->
      s"""WITH
         |$ccPairCtes,
         |tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         |      FROM p e1 JOIN p e2 ON e2.doc_a = e1.doc_b
         |      JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
         |nodes AS (SELECT a AS doc_id FROM tri
         |      UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |SELECT doc_id, count(*) AS triangles FROM nodes GROUP BY doc_id""".stripMargin,

    // naive all-shared-token pairs (any pair sharing NO rare token has
    // cos 0) — integer dot, division order mirrors Similarity.cosine;
    // the Spark side's prefix filter must be invisible in the result
    "x_dedup_cosine" ->
      s"""WITH tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf FROM (
         |        SELECT doc_id, unnest(list_transform(
         |          generate_series(1, len($sqlWords) - 2),
         |          i -> $sqlWords[i] || ' ' || $sqlWords[i+1] || ' ' || $sqlWords[i+2])) AS tok
         |        FROM documents)
         |      GROUP BY doc_id, tok),
         |d AS (SELECT tok FROM tf GROUP BY tok HAVING count(*) <= 100),
         |w AS (SELECT tf.* FROM tf JOIN d USING (tok)),
         |n AS (SELECT doc_id, sum(tf*tf) AS nsq FROM w GROUP BY doc_id),
         |dot AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.tf*b.tf) AS d
         |        FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
         |        GROUP BY 1, 2)
         |SELECT doc_a, doc_b,
         |  round(d / sqrt(na.nsq) / sqrt(nb.nsq), 6) + 0 AS cos
         |FROM dot JOIN n na ON na.doc_id = dot.doc_a
         |         JOIN n nb ON nb.doc_id = dot.doc_b
         |WHERE round(d / sqrt(na.nsq) / sqrt(nb.nsq), 6) >= 0.4""".stripMargin,

    // deg and T are exact integers; the coefficient is one IEEE division —
    // the DOUBLE cast goes FIRST so DuckDB can't route through DECIMAL
    "x_graph_clustering" ->
      s"""WITH
         |$ccPairCtes,
         |tri AS (SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
         |      FROM p e1 JOIN p e2 ON e2.doc_a = e1.doc_b
         |      JOIN p e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
         |tcnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS triangles FROM (
         |      SELECT a AS doc_id FROM tri
         |      UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
         |    GROUP BY doc_id),
         |deg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
         |      SELECT doc_a AS doc_id FROM p UNION ALL SELECT doc_b FROM p)
         |    GROUP BY doc_id)
         |SELECT d.doc_id, d.deg, coalesce(t.triangles, 0) AS triangles,
         |  CAST(coalesce(t.triangles, 0) AS DOUBLE) * 2 / (d.deg * (d.deg - 1)) AS coeff
         |FROM deg d LEFT JOIN tcnt t ON t.doc_id = d.doc_id
         |WHERE d.deg >= 2""".stripMargin,

    // star contraction computes the SAME fixpoint — one oracle, two algorithms
    "x_dedup_cc_star" -> ccOracleSqlRef,

    // incremental update computes the SAME fixpoint from (pre-batch ledger
    // + new edges) — one oracle, three algorithms: the equality IS the
    // incremental contract
    "x_dedup_cc_incremental" -> ccOracleSqlRef,

    "x_text_novelty" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |d AS (SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, len(ws) - 2),
        |                  i -> array_to_string(ws[i:i+2], ' '))) AS ngs
        |  FROM w),
        |t AS (SELECT doc_id, unnest(ngs) AS ng FROM d),
        |f AS (SELECT ng, CAST(count(*) AS BIGINT) AS df FROM t GROUP BY ng)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
        |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
        |FROM t JOIN f USING (ng) GROUP BY doc_id""".stripMargin,

    "x_source_ngram_overlap" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
        |d AS (SELECT source,
        |    list_distinct(list_transform(generate_series(1, len(ws) - 2),
        |                  i -> array_to_string(ws[i:i+2], ' '))) AS ngs
        |  FROM w),
        |t AS (SELECT DISTINCT source, unnest(ngs) AS ng FROM d)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM t a JOIN t b ON a.ng = b.ng AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    "x_substr_spans" ->
      s"""$substrWindowCtes,
         |d AS (SELECT w.doc_id, w.pos
         |  FROM w JOIN f ON w.gram = f.gram WHERE f.cnt >= 2),
         |$substrSpanSelect""".stripMargin,

    "x_substr_stats" ->
      s"""$substrWindowCtes,
         |d AS (SELECT w.doc_id, w.pos
         |  FROM w JOIN f ON w.gram = f.gram WHERE f.cnt >= 2),
         |$substrIslandCtes,
         |sp AS (SELECT doc_id, max(pos) + 40 - min(pos) AS span_len
         |  FROM g GROUP BY doc_id, grp),
         |agg AS (SELECT doc_id, CAST(sum(span_len) AS BIGINT) AS dup_chars
         |  FROM sp GROUP BY doc_id)
         |SELECT dd.doc_id, CAST(length(dd.text) AS BIGINT) AS n_chars,
         |  COALESCE(agg.dup_chars, 0) AS dup_chars,
         |  CASE WHEN length(dd.text) = 0 THEN 0.0
         |       ELSE CAST(COALESCE(agg.dup_chars, 0) AS DOUBLE) / length(dd.text)
         |  END AS dup_fraction
         |FROM documents dd LEFT JOIN agg ON dd.doc_id = agg.doc_id""".stripMargin,

    "x_substr_cut" ->
      s"""$substrWindowCtes,
         |fo AS (SELECT w.gram, min(w.doc_id) AS fdoc
         |  FROM w JOIN f ON w.gram = f.gram WHERE f.cnt >= 2 GROUP BY w.gram),
         |fp AS (SELECT fo.gram, fo.fdoc, min(w.pos) AS fpos
         |  FROM w JOIN fo ON w.gram = fo.gram AND w.doc_id = fo.fdoc
         |  GROUP BY fo.gram, fo.fdoc),
         |d AS (SELECT w.doc_id, w.pos FROM w JOIN fp ON w.gram = fp.gram
         |  WHERE NOT (w.doc_id = fp.fdoc AND w.pos = fp.fpos)),
         |$substrSpanSelect""".stripMargin,

    "x_substr_summary" ->
      s"""$substrWindowCtes,
         |d AS (SELECT w.doc_id, w.pos
         |  FROM w JOIN f ON w.gram = f.gram WHERE f.cnt >= 2),
         |$substrIslandCtes,
         |sp AS (SELECT doc_id, max(pos) + 40 - min(pos) AS span_len
         |  FROM g GROUP BY doc_id, grp)
         |SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_affected,
         |  CAST(count(*) AS BIGINT) AS n_spans,
         |  CAST(sum(span_len) AS BIGINT) AS dup_chars,
         |  CAST(max(span_len) AS BIGINT) AS max_span_len,
         |  (SELECT CAST(sum(length(text)) AS BIGINT) FROM documents) AS corpus_chars,
         |  CAST(sum(span_len) AS DOUBLE)
         |    / (SELECT sum(length(text)) FROM documents) AS dup_char_fraction
         |FROM sp""".stripMargin,

    "x_substr_clean" ->
      s"""$substrWindowCtes,
         |fo AS (SELECT w.gram, min(w.doc_id) AS fdoc
         |  FROM w JOIN f ON w.gram = f.gram WHERE f.cnt >= 2 GROUP BY w.gram),
         |fp AS (SELECT fo.gram, fo.fdoc, min(w.pos) AS fpos
         |  FROM w JOIN fo ON w.gram = fo.gram AND w.doc_id = fo.fdoc
         |  GROUP BY fo.gram, fo.fdoc),
         |d AS (SELECT w.doc_id, w.pos FROM w JOIN fp ON w.gram = fp.gram
         |  WHERE NOT (w.doc_id = fp.fdoc AND w.pos = fp.fpos)),
         |$substrIslandCtes,
         |sp AS (SELECT doc_id, min(pos) AS span_start, max(pos) + 40 AS span_end
         |  FROM g GROUP BY doc_id, grp),
         |ag AS (SELECT doc_id,
         |    list_sort(list(span_start)) AS ss, list_sort(list(span_end)) AS es,
         |    CAST(count(*) AS INT) AS n_cut,
         |    CAST(sum(span_end - span_start) AS BIGINT) AS cut_chars
         |  FROM sp GROUP BY doc_id),
         |j AS (SELECT dd.doc_id, dd.text, length(dd.text) AS len,
         |    list_prepend(CAST(0 AS BIGINT), COALESCE(ag.es, [])) AS segs,
         |    list_append(COALESCE(ag.ss, []), length(dd.text)) AS sege,
         |    COALESCE(ag.n_cut, 0) AS n_cut,
         |    COALESCE(ag.cut_chars, 0) AS cut_chars
         |  FROM documents dd LEFT JOIN ag ON dd.doc_id = ag.doc_id)
         |SELECT doc_id,
         |  array_to_string(list_transform(generate_series(1, len(segs)),
         |    q -> substr(text, CAST(segs[q] AS INT) + 1,
         |                CAST(sege[q] - segs[q] AS INT))), '') AS clean_text,
         |  n_cut, cut_chars
         |FROM j""".stripMargin,

    "x_dedup_cluster_sizes" ->
      s"""$ccWalkCtes,
         |lab AS (SELECT node AS doc_id, min(label) AS component
         |        FROM walk GROUP BY node),
         |f AS (SELECT d.doc_id, coalesce(l.component, d.doc_id) AS component
         |      FROM documents d LEFT JOIN lab l USING (doc_id)),
         |cs AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
         |       FROM f GROUP BY component)
         |SELECT csize, CAST(count(*) AS BIGINT) AS n_clusters,
         |  csize * CAST(count(*) AS BIGINT) AS n_docs
         |FROM cs GROUP BY csize""".stripMargin,

    // the CC walk labels extended over the full corpus (absent node = own
    // singleton component), then per-component argmax on the quality score
    "x_dedup_keep_best" ->
      s"""$ccWalkCtes,
         |lab AS (SELECT node AS doc_id, min(label) AS component
         |        FROM walk GROUP BY node),
         |sc AS (SELECT doc_id, $sqlQualityScore AS score
         |       FROM documents),
         |f AS (SELECT s.doc_id, coalesce(l.component, s.doc_id) AS component, s.score
         |      FROM sc s LEFT JOIN lab l ON l.doc_id = s.doc_id)
         |SELECT component, kept_id, csize, best_score FROM (
         |  SELECT component, doc_id AS kept_id,
         |    CAST(count(*) OVER (PARTITION BY component) AS BIGINT) AS csize,
         |    CAST(max(score) OVER (PARTITION BY component) AS DOUBLE) AS best_score,
         |    row_number() OVER (PARTITION BY component
         |                       ORDER BY score DESC, doc_id) AS rk
         |  FROM f)
         |WHERE rk = 1""".stripMargin,

    "x_sim_topk_brute" ->
      """WITH c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |q AS (SELECT * FROM c WHERE vec_id < 5)
        |SELECT q_id, n_id, cos, rk FROM (
        |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
        |    round(list_cosine_similarity(q.v, c.v), 6) + 0 AS cos,
        |    CAST(row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC, c.vec_id) AS INT) AS rk
        |  FROM q JOIN c ON c.vec_id <> q.vec_id)
        |WHERE rk <= 10""".stripMargin,

    "x_mm_bytes" ->
      "SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes FROM documents",

    // mirrors opaqueFeatures' arithmetic pseudo-geometry in (media_id, n_bytes);
    // n_bytes = UTF-8 byte length of text (mediaFromDocuments' payload)
    "x_mm_features" ->
      """WITH h AS (SELECT doc_id AS media_id,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |    (doc_id % 1000003) * 2654435761 + octet_length(encode(text)) * 131 AS h
        |  FROM documents)
        |SELECT media_id, n_bytes,
        |  CAST(h % 640 AS INT) AS width,
        |  CAST(h % 480 AS INT) AS height,
        |  CAST(h & 255 AS DOUBLE) / 256.0 AS f0
        |FROM h""".stripMargin,

    "x_mm_image_decode" ->
      """SELECT doc_id AS media_id,
        |  CAST(n_chars % 64 + 1 AS INT) AS width,
        |  CAST(doc_id % 48 + 1 AS INT) AS height
        |FROM documents""".stripMargin,

    // the dispatch union: image rows carry PNG pixel geometry, audio rows
    // (ids offset by 1e9) carry (n_samples = 1600 + (doc_id%7)·160, 16000)
    "x_mm_decode_dispatch" ->
      """SELECT doc_id AS media_id, 'image/png' AS media_type,
        |  CAST(n_chars % 64 + 1 AS INT) AS width,
        |  CAST(doc_id % 48 + 1 AS INT) AS height
        |FROM documents
        |UNION ALL
        |SELECT doc_id + 1000000000 AS media_id, 'audio/wav' AS media_type,
        |  CAST(1600 + (doc_id % 7) * 160 AS INT) AS width,
        |  CAST(16000 AS INT) AS height
        |FROM documents""".stripMargin,

    // mirrors resizeImage's integer geometry: downscale so max(w,h) <= 16,
    // target = dim*16 // max, floor, min 1; in-bounds images untouched
    "x_mm_resize" ->
      """WITH g AS (SELECT doc_id AS media_id,
        |    CAST(n_chars % 64 + 1 AS INT) AS w, CAST(doc_id % 48 + 1 AS INT) AS h
        |  FROM documents)
        |SELECT media_id,
        |  CAST(CASE WHEN greatest(w, h) <= 16 THEN w
        |       ELSE greatest(1, w * 16 // greatest(w, h)) END AS INT) AS width,
        |  CAST(CASE WHEN greatest(w, h) <= 16 THEN h
        |       ELSE greatest(1, h * 16 // greatest(w, h)) END AS INT) AS height
        |FROM g""".stripMargin,

    "x_mm_frame_sample" ->
      """SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx,
        |  CAST(i + 1 AS INT) AS width, CAST(2 AS INT) AS height
        |FROM documents, generate_series(0, 4) t(i)
        |WHERE i % 2 = 0 AND i <= doc_id % 5""".stripMargin,

    // md5-hyperplane LSH top-k twin: signs derived IN SQL from md5's top
    // bit (band 0 of the md5 family), buckets for corpus AND queries, then
    // the same candidate-join → exact-cosine → row_number tail as
    // x_sim_topk_brute — pins Similarity.lshTopKMd5 (and with it the shared
    // bucketed-top-k code path the native x_sim_ann_lsh runs)
    "x_sim_ann_lsh_md5" ->
      """WITH c AS (SELECT vec_id AS n_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |           FROM embeddings),
        |sg AS (SELECT p.p, d.d,
        |    CASE WHEN substr(md5(concat('0:', p.p, ':', d.d)), 1, 1) < '8'
        |         THEN 1.0 ELSE -1.0 END AS s
        |  FROM (SELECT unnest(range(0, 8)) AS p) p
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS d) d),
        |proj AS (SELECT c.n_id, sg.p, round(sum(c.v[sg.d + 1] * sg.s), 6) AS pr
        |  FROM c CROSS JOIN sg GROUP BY 1, 2),
        |bk AS (SELECT n_id, CAST(sum(CASE WHEN pr > 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
        |  FROM proj GROUP BY 1),
        |q AS (SELECT c.n_id AS q_id, c.v AS q_vec, bk.bucket
        |      FROM c JOIN bk USING (n_id) WHERE c.n_id < 5),
        |s AS (SELECT q.q_id, c.n_id,
        |    round(list_cosine_similarity(q.q_vec, c.v), 6) + 0 AS cos
        |  FROM q JOIN bk b ON b.bucket = q.bucket
        |  JOIN c ON c.n_id = b.n_id AND c.n_id <> q.q_id)
        |SELECT q_id, n_id, cos, rk FROM (
        |  SELECT q_id, n_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS INT) AS rk
        |  FROM s)
        |WHERE rk <= 10""".stripMargin,

    "x_mm_dhash_sigs" ->
      s"""WITH $mmHashCtes
         |SELECT media_id, dhash, ahash FROM sigs""".stripMargin,

    "x_mm_phash_sigs" -> mmPhashOracle,

    // all-pairs hamming scan over the derived dHashes — equal to the Spark
    // side's chunk-pigeonhole banding by exactness for maxDist <= 3
    "x_mm_dhash_pairs" ->
      s"""WITH $mmHashCtes
         |SELECT a.media_id AS media_a, b.media_id AS media_b,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
         |FROM sigs a JOIN sigs b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin,

    // canonical keep: the recursive walk + one aggregation per component
    "x_mm_dedup_canonical" ->
      s"""WITH RECURSIVE $mmHashCtes,
         |p AS MATERIALIZED (SELECT a.media_id AS pa, b.media_id AS pb
         |      FROM sigs a JOIN sigs b ON a.media_id < b.media_id
         |      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
         |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM p
         |      UNION ALL SELECT pb, pa FROM p),
         |walk(node, label) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node),
         |comp AS (SELECT node AS media_id, min(label) AS component
         |  FROM walk GROUP BY node)
         |SELECT component, min(media_id) AS keep_id,
         |  CAST(count(*) AS BIGINT) AS n_members
         |FROM comp GROUP BY component""".stripMargin,

    // multimodal ingest novelty: brute-force batch x corpus hamming scan
    // over the same derived hashes — the maintained-ledger serve must
    // equal full recomputation
    "x_mm_ingest_novel" ->
      s"""WITH $mmHashCtes,
         |matched AS (SELECT DISTINCT a.media_id
         |  FROM sigs a JOIN sigs b
         |    ON (a.media_id % 10 = 0 OR a.media_id % 101 = 7)
         |   AND NOT (b.media_id % 10 = 0 OR b.media_id % 101 = 7)
         |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 3)
         |SELECT s.media_id FROM sigs s LEFT JOIN matched m USING (media_id)
         |WHERE (s.media_id % 10 = 0 OR s.media_id % 101 = 7)
         |  AND m.media_id IS NULL""".stripMargin,

    // hamming top-k retrieval: brute scan per query, rank by (dist, id)
    "x_mm_sim_topk" ->
      s"""WITH $mmHashCtes,
         |q AS (SELECT media_id AS q_id, dhash AS q_hash FROM sigs WHERE media_id < 5)
         |SELECT q_id, n_id, hamming, rk FROM (
         |  SELECT q.q_id, s.media_id AS n_id,
         |    CAST(bit_count(xor(s.dhash, q.q_hash)) AS INT) AS hamming,
         |    CAST(row_number() OVER (PARTITION BY q.q_id
         |      ORDER BY bit_count(xor(s.dhash, q.q_hash)), s.media_id) AS INT) AS rk
         |  FROM sigs s CROSS JOIN q WHERE s.media_id <> q.q_id)
         |WHERE rk <= 10""".stripMargin,

    // cross-modal curation: decoded geometry re-derived arithmetically,
    // caption quality via the shared rule battery, both gates mirrored
    "x_mm_caption_curation" ->
      s"""WITH g AS (SELECT doc_id AS media_id,
         |    CAST(n_chars % 64 + 1 AS INT) AS width,
         |    CAST(doc_id % 48 + 1 AS INT) AS height,
         |    ($sqlQualityScore) AS caption_quality
         |  FROM documents)
         |SELECT media_id, width, height, caption_quality,
         |  CAST(width * height >= 256 AND caption_quality >= 3 AS INT) AS keep
         |FROM g""".stripMargin,

    // component fixpoint over the image near-dup pairs (same recursive-CTE
    // walk as the text ledger x_dedup_cc)
    "x_mm_dedup_groups" ->
      s"""WITH RECURSIVE $mmHashCtes,
         |p AS MATERIALIZED (SELECT a.media_id AS pa, b.media_id AS pb
         |      FROM sigs a JOIN sigs b ON a.media_id < b.media_id
         |      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
         |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM p
         |      UNION ALL SELECT pb, pa FROM p),
         |walk(node, label) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node)
         |SELECT node AS media_id, min(label) AS component
         |FROM walk GROUP BY node""".stripMargin,

    // ---- audio family oracles -----------------------------------------
    // re-derive the synthesized PCM from the sample formula
    // (Audio.synthSamples: s(k) = (seed·2654435761 + k·48271) % 65536
    // − 32768, seed = doc_id % 1000003, n = 1600 + (doc_id%7)·160), then
    // compute each integer feature independently — a hash match pins the
    // real RIFF write → parse → feature path end to end
    "x_mm_audio_decode" ->
      s"""WITH $audioSynthCte,
         |z AS (SELECT doc_id, k, s, n,
         |    lag(s) OVER (PARTITION BY doc_id ORDER BY k) AS ps
         |  FROM aus)
         |SELECT doc_id AS media_id, CAST(16000 AS INT) AS sample_rate,
         |  CAST(max(n) AS INT) AS n_samples,
         |  CAST(max(n) * 1000 // 16000 AS BIGINT) AS duration_ms,
         |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
         |  CAST(max(abs(s)) AS INT) AS max_abs,
         |  CAST(count(*) FILTER (WHERE ps IS NOT NULL
         |    AND (s >= 0) <> (ps >= 0)) AS BIGINT) AS zero_cross
         |FROM z GROUP BY 1""".stripMargin,

    // 25 ms frames: frame_idx = k // 400, energy = exact Σs²
    "x_mm_audio_frames" ->
      s"""WITH $audioSynthCte
         |SELECT doc_id AS media_id, CAST(k // 400 AS INT) AS frame_idx,
         |  CAST(sum(s * s) AS BIGINT) AS energy,
         |  CAST(count(*) AS INT) AS n_in_frame
         |FROM aus WHERE doc_id % 10 = 0
         |GROUP BY 1, 2""".stripMargin,

    // stride-4 decimation: kept samples k % 4 = 0, re-encoded at 4 kHz
    "x_mm_audio_resample" ->
      s"""WITH $audioSynthCte
         |SELECT doc_id AS media_id, CAST(4000 AS INT) AS sample_rate,
         |  CAST(count(*) AS INT) AS n_samples,
         |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs
         |FROM aus WHERE k % 4 = 0
         |GROUP BY 1""".stripMargin,

    "x_mm_audio_fp_sigs" ->
      s"""WITH $audioFpCtes
         |SELECT media_id, afp FROM asig""".stripMargin,

    // all-pairs hamming scan over the derived fingerprints — equal to the
    // Spark side's chunk-pigeonhole banding by exactness for maxDist <= 3
    "x_mm_audio_fp_pairs" ->
      s"""WITH $audioFpCtes
         |SELECT a.media_id AS media_a, b.media_id AS media_b,
         |  CAST(bit_count(xor(a.afp, b.afp)) AS INT) AS hamming
         |FROM asig a JOIN asig b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin,

    // component fixpoint over the audio near-dup pairs (same recursive-CTE
    // walk as the image groups)
    "x_mm_audio_dedup_groups" ->
      s"""WITH RECURSIVE $audioFpCtes,
         |p AS MATERIALIZED (SELECT a.media_id AS pa, b.media_id AS pb
         |      FROM asig a JOIN asig b ON a.media_id < b.media_id
         |      WHERE bit_count(xor(a.afp, b.afp)) <= 3),
         |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM p
         |      UNION ALL SELECT pb, pa FROM p),
         |walk(node, label) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node)
         |SELECT node AS media_id, min(label) AS component
         |FROM walk GROUP BY node""".stripMargin,

    "x_text_sentences" ->
      """SELECT doc_id, CAST(count(*) AS INT) AS n_sentences,
        |  CAST(sum(length(s)) AS BIGINT) AS sum_sent_chars,
        |  CAST(max(length(s)) AS INT) AS max_sent_chars
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '[.!?] ')) AS s
        |      FROM documents) t
        |WHERE length(trim(s)) > 0
        |GROUP BY 1""".stripMargin,

    "x_warc_roundtrip" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS content_length,
        |  CAST(length(text) AS INT) AS payload_chars
        |FROM documents""".stripMargin,

    // the JSONL roundtrip must hand back the original table verbatim
    "x_jsonl_roundtrip" ->
      "SELECT doc_id, source, lang, text FROM documents",

    // CDC boundaries re-derived per position as the 8-term window
    // polynomial (base 33, code point mod 4096, divisor 61 — Cdc.scala's
    // rule verbatim; powers of 33 inlined as literals). generate_series
    // caps: 4096 chunks/doc (the x_bpe_pairs hard-cap idiom — a longer
    // doc would lose tail chunks in the oracle only and hash-mismatch
    // loudly; fixture max is ~600 chars)
    "x_text_cdc_chunks" -> (cdcChunksSql + """
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(en[i] - st[i] AS INT) AS chunk_len,
        |  substr(text, CAST(st[i] + 1 AS INT), CAST(en[i] - st[i] AS INT)) AS chunk_text
        |FROM cb, generate_series(1, 4096) t(i) WHERE i <= len(en)""".stripMargin),

    "x_text_cdc_dedup" -> (cdcChunksSql + """,
        |ch AS (SELECT substr(text, CAST(st[i] + 1 AS INT),
        |         CAST(en[i] - st[i] AS INT)) AS chunk_text,
        |       en[i] - st[i] AS chunk_len
        |  FROM cb, generate_series(1, 4096) t(i) WHERE i <= len(en)),
        |g AS (SELECT chunk_text, CAST(count(*) AS BIGINT) AS c,
        |        CAST(max(chunk_len) AS BIGINT) AS l
        |      FROM ch GROUP BY 1)
        |SELECT CAST(sum(c) AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(c * l) AS BIGINT) AS total_chars,
        |  CAST(sum((c - 1) * l) AS BIGINT) AS dup_chars
        |FROM g""".stripMargin),

    // maintained chunk store == recompute: chunks of ALL docs, corpus
    // chunk set = non-src0 contents, per src0 doc the occurrences whose
    // content the corpus set lacks (LEFT JOIN on content — the probe's
    // hash-then-verify collapses to exactly this on collision-free input,
    // and collisions are re-verified by text)
    "x_text_cdc_ledger" -> (cdcChunksSql + """,
        |ch AS (SELECT doc_id, substr(text, CAST(st[i] + 1 AS INT),
        |         CAST(en[i] - st[i] AS INT)) AS chunk_text,
        |       en[i] - st[i] AS chunk_len
        |  FROM cb, generate_series(1, 4096) t(i) WHERE i <= len(en)),
        |corp AS (SELECT DISTINCT chunk_text FROM ch
        |  JOIN documents d USING (doc_id) WHERE d.source <> 'src0'),
        |b AS (SELECT ch.doc_id, ch.chunk_text, ch.chunk_len,
        |        (corp.chunk_text IS NULL) AS novel
        |  FROM ch JOIN documents d USING (doc_id)
        |  LEFT JOIN corp USING (chunk_text)
        |  WHERE d.source = 'src0')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(count(*) FILTER (WHERE novel) AS BIGINT) AS n_novel_chunks,
        |  CAST(coalesce(sum(chunk_len) FILTER (WHERE novel), 0) AS BIGINT) AS novel_chars
        |FROM b GROUP BY doc_id""".stripMargin),

    // end-to-end curation: the CC walk gives component labels (min id by
    // construction), canonical ⇔ unpaired or label == id, then the shared
    // quality battery gates captions
    "x_pipeline_mm_corpus" ->
      s"""WITH RECURSIVE $mmHashCtes,
         |p AS MATERIALIZED (SELECT a.media_id AS pa, b.media_id AS pb
         |      FROM sigs a JOIN sigs b ON a.media_id < b.media_id
         |      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
         |e AS MATERIALIZED (SELECT pa AS src, pb AS dst FROM p
         |      UNION ALL SELECT pb, pa FROM p),
         |walk(node, label) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.dst, w.label FROM walk w JOIN e ON e.src = w.node),
         |comp AS (SELECT node AS media_id, min(label) AS component
         |  FROM walk GROUP BY node),
         |q AS (SELECT doc_id AS media_id, ($sqlQualityScore) AS caption_quality
         |  FROM documents)
         |SELECT media_id, caption_quality
         |FROM q LEFT JOIN comp USING (media_id)
         |WHERE (component IS NULL OR component = media_id)
         |  AND caption_quality >= 3""".stripMargin,

    // VAD spans: the silent-frame formula is mirrored directly (an
    // unsilenced frame always carries nonzero energy — the pseudo-noise
    // has no all-zero frame), then the same gaps-and-islands rewrite
    "x_mm_audio_vad" ->
      """WITH vf AS MATERIALIZED (SELECT doc_id, f,
        |    CASE WHEN ((doc_id % 1009) * 2654435761 + f * 97) % 3 = 0
        |         THEN 0 ELSE 1 END AS active
        |  FROM (SELECT doc_id,
        |          unnest(range(0, (1600 + (doc_id % 7) * 160 + 99) // 100)) AS f
        |        FROM documents) t),
        |act AS (SELECT doc_id, f,
        |    f - row_number() OVER (PARTITION BY doc_id ORDER BY f) AS grp
        |  FROM vf WHERE active = 1)
        |SELECT doc_id AS media_id, CAST(min(f) AS INT) AS span_start,
        |  CAST(max(f) AS INT) AS span_end, CAST(count(*) AS INT) AS n_frames
        |FROM act GROUP BY doc_id, grp""".stripMargin,

    // shot boundaries: frame pixels re-derived from the container
    // fixture's formula (frame i is (i+1)x2; row 0 pixel x = (id*31+x)
    // masked, row 1 = (id*131+x) masked), per-pixel gray then frame mean
    // (both floor divisions), lag-delta > 8 flags the boundary
    "x_mm_shot_bounds" ->
      """WITH sf AS MATERIALIZED (SELECT doc_id, i.i AS i, x.x AS x,
        |    (doc_id * 31 + x.x) & 16777215 AS v0,
        |    (doc_id * 131 + x.x) & 16777215 AS v1
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(range(0, 5)) AS i) i
        |  CROSS JOIN (SELECT unnest(range(0, 5)) AS x) x
        |  WHERE i.i <= doc_id % 5 AND x.x <= i.i),
        |mg AS MATERIALIZED (SELECT doc_id, i,
        |    CAST(sum((((v0 >> 16) & 255) + ((v0 >> 8) & 255) + (v0 & 255)) // 3
        |           + (((v1 >> 16) & 255) + ((v1 >> 8) & 255) + (v1 & 255)) // 3)
        |         // (2 * (i + 1)) AS BIGINT) AS mean_gray
        |  FROM sf GROUP BY 1, 2),
        |lg AS (SELECT doc_id, i, mean_gray,
        |    lag(mean_gray) OVER (PARTITION BY doc_id ORDER BY i) AS pm
        |  FROM mg)
        |SELECT doc_id AS media_id, CAST(i AS INT) AS frame_idx, mean_gray,
        |  CAST(CASE WHEN pm IS NOT NULL AND abs(mean_gray - pm) > 8
        |       THEN 1 ELSE 0 END AS INT) AS is_boundary
        |FROM lg""".stripMargin,

    "x_pipeline_dataprep" ->
      s"""WITH sc AS (SELECT n_chars, text,
         |  ${sqlStopCount(Seq("the", "a", "of"))} AS s_en,
         |  ${sqlStopCount(Seq("der", "die", "und"))} AS s_de,
         |  ${sqlStopCount(Seq("le", "la", "et"))} AS s_fr,
         |  ${sqlStopCount(Seq("el", "los", "y"))} AS s_es
         |FROM documents
         |WHERE len($sqlWords) BETWEEN 20 AND 120)
         |SELECT CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
         |            WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |            WHEN s_fr >= s_es THEN 'fr'
         |            ELSE 'es' END AS predicted,
         |  ${sqlCount()} AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM sc GROUP BY 1""".stripMargin,

    // snapshot diff: same deterministic v1/v2 derivation, same md5
    // fingerprints (both engines hash the UTF-8 bytes to lowercase hex),
    // `||` / Spark `concat` both null-propagate the v2 edit
    "x_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
        |v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 7 <> 0),
        |a AS (SELECT doc_id, coalesce(md5(text), '<null>') AS fp FROM v1),
        |b AS (SELECT doc_id, coalesce(md5(text), '<null>') AS fp FROM v2)
        |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.fp <> b.fp""".stripMargin,

    // overlap matrix: same augmented corpus; SQL joins on the text
    // directly (the oracle's job is semantics, not the hash-first layout)
    "x_corpus_overlap" ->
      """WITH aug AS (
        |  SELECT text, source FROM documents
        |  UNION ALL
        |  SELECT text, 'xmirror' FROM documents WHERE doc_id % 25 = 0),
        |s AS (SELECT DISTINCT source, text FROM aug WHERE text IS NOT NULL)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM s a JOIN s b ON a.text = b.text AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    // curation lineage: first-drop attribution; dedup canonical is the min
    // doc_id over the exact text group AMONG survivors of empty+quality
    "x_pipeline_lineage" ->
      s"""WITH f AS (SELECT doc_id, text,
         |    CASE WHEN text IS NULL OR length(text) = 0 THEN 'empty'
         |         WHEN ($sqlQualityScore) < 3 THEN 'quality' END AS drop0
         |  FROM documents),
         |k AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canon
         |      FROM f WHERE drop0 IS NULL)
         |SELECT f.doc_id,
         |  coalesce(f.drop0,
         |    CASE WHEN k.canon <> f.doc_id THEN 'dup' ELSE 'kept' END) AS stage
         |FROM f LEFT JOIN k USING (doc_id)""".stripMargin,

    // LSH recall vs exact-Jaccard truth over the identical shingle
    // universe; truth is the brute-force all-pairs form here (the oracle's
    // job is a second opinion, not scale), found is the minhash-pairs
    // oracle verbatim
    "x_dedup_minhash_recall" ->
      """WITH sh AS MATERIALIZED (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(string_split(lower(text), ' ')) - 2),
        |    i -> string_split(lower(text), ' ')[i] || ' ' ||
        |         string_split(lower(text), ' ')[i+1] || ' ' ||
        |         string_split(lower(text), ' ')[i+2]))) AS s
        |  FROM documents WHERE text IS NOT NULL),
        |sets AS MATERIALIZED (SELECT doc_id, list(DISTINCT s) AS ws FROM sh GROUP BY 1),
        |truth AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.ws, b.ws)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.ws, b.ws))) >= 0.5),
        |hs AS (
        |  SELECT doc_id, s,
        |    CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h1,
        |    CAST(concat('0x', substr(md5(s), 16, 15)) AS BIGINT) % 2147483647 AS h2
        |  FROM sh),
        |sigs AS (
        |  SELECT doc_id, list(CAST(m AS BIGINT) ORDER BY i) AS sig
        |  FROM (SELECT doc_id, i, min((h1 + i * h2) % 2147483647) AS m
        |        FROM hs CROSS JOIN (SELECT unnest(range(0, 16)) AS i)
        |        GROUP BY 1, 2)
        |  GROUP BY 1),
        |found AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |  JOIN sets sa ON sa.doc_id = a.doc_id
        |  JOIN sets sb ON sb.doc_id = b.doc_id
        |  WHERE (a.sig[1:4] = b.sig[1:4] OR a.sig[5:8] = b.sig[5:8]
        |      OR a.sig[9:12] = b.sig[9:12] OR a.sig[13:16] = b.sig[13:16])
        |    AND CAST(len(list_intersect(sa.ws, sb.ws)) AS DOUBLE) /
        |        len(list_distinct(list_concat(sa.ws, sb.ws))) >= 0.5)
        |SELECT CAST(count(*) AS BIGINT) AS n_true,
        |  CAST(count(f.doc_a) AS BIGINT) AS n_found,
        |  CASE WHEN count(*) = 0 THEN CAST(1.0 AS DOUBLE)
        |       ELSE CAST(count(f.doc_a) AS DOUBLE) / count(*) END AS recall
        |FROM truth t LEFT JOIN found f
        |  ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b""".stripMargin,

    // priority keep: same augmented corpus (mirror copies at priority 0,
    // originals at their source's numeric suffix); the window's
    // (priority, doc_id) order IS the keep rule
    "x_dedup_priority_keep" ->
      """WITH aug AS (
        |  SELECT doc_id, text,
        |    CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) AS priority
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 0 FROM documents WHERE doc_id % 50 = 0)
        |SELECT doc_id, first_value(doc_id) OVER (
        |    PARTITION BY text ORDER BY priority, doc_id) AS kept_id
        |FROM aug""".stripMargin,

    // PII findings: identical planted derivation, each count an
    // independent regex scan (shared Java/RE2-safe pattern list)
    "x_text_pii" ->
      """WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |           THEN text || ' mail user' || (doc_id % 5) || '@example.com now'
        |         WHEN doc_id % 13 = 0
        |           THEN text || ' see https://ex.org/p/' || doc_id || ' ok'
        |         ELSE text END AS t2
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, 'https?://[^ ]+')) AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t2, '[0-9]+')) AS BIGINT) AS n_nums
        |FROM aug""".stripMargin
  )
}
