package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The full training-run preparation pipeline — what a user actually
  * runs before a pretraining job, composed ENTIRELY from the gated
  * operators: quality gate (Pack.tokenCount) → MinHash near-dup
  * survivors (Dedup) → benchmark decontamination (Contamination, bloom
  * prefilter) → deterministic seeded train/val split → source-balanced
  * interleave rank (the d50 epoch order) → context-window packing of
  * train (Pack.packedSpans) → manifest of per-stage counts.
  *
  * 100 TB shape: each stage is one of the already-measured operator
  * shapes (band-bucketed pairs, broadcast bloom, one source-keyed
  * window, one split filter); the composition adds NO new shuffles of
  * its own beyond the stages'. Invariants are spec-pinned in
  * Round11OpsSpec: min-token floor, zero surviving near-dup pairs,
  * zero contaminated survivors, disjoint-and-complete split, packed
  * spans within capacity.
  *
  * Crash safety / resume: the pipeline writes four outputs in sequence,
  * and at 100 TB the dedup/decontaminate front is hours of work — a
  * process death between `train_docs` and `train_spans` must not force
  * a recompute of everything before it. Each stage therefore commits a
  * MARKER file (`_stage_docs`, `_stage_spans`) via temp-write + rename
  * AFTER its parquet outputs land, carrying the stage's manifest counts
  * and a PER-STAGE parameter fingerprint (only the parameters the stage
  * consumes — a capacity-only change redoes the packing stage, never
  * the dedup/decontaminate front). A re-run into the same `outDir`
  * skips any stage whose marker exists AND fingerprint matches; a
  * mismatched (stale) marker is deleted BEFORE the recompute starts
  * overwriting the outputs it certified, so a crash mid-recompute can
  * never leave an old marker validating clobbered parquet. A crash
  * mid-write leaves no marker, so the interrupted stage recomputes and
  * its `overwrite` writes replace any partial output. The manifest is
  * derived from markers + output counts and is rewritten last,
  * idempotently. Fresh runs use a fresh `outDir` (the
  * checkpoint-directory contract).
  */
object PrepareRun {

  /** PER-STAGE parameter strings: a stage's marker is invalidated only
    * by parameters that stage actually consumes — changing `capacity`
    * (a packing knob) must redo train_spans but NOT the hours-long
    * dedup/decontaminate front that produced byte-identical train_docs.
    * The RAW string is stored in the marker and compared verbatim — a
    * hash would add a (tiny) collision surface for no benefit, and the
    * raw string doubles as human-readable provenance in the marker file.
    * Note the marker certifies PARAMETERS, not input-data identity:
    * re-running into the same outDir with a different `docs` frame but
    * identical params serves the committed outputs — the fresh-outDir
    * contract (scaladoc above) is what makes that sound.
    */
  /** Semantic-stage suffix: absent when disabled, so runs without it
    * keep the historical fingerprint format (and its marker
    * compatibility) exactly.
    */
  private def semSuffix(semanticTau: Double): String =
    if (semanticTau.isNaN) "" else s":sem$semanticTau"

  private def docsParams(minTokens: Int, threshold: Double, valPct: Int,
                         semanticTau: Double): String =
    s"docs:$minTokens:$threshold:$valPct${semSuffix(semanticTau)}"

  private def spansParams(minTokens: Int, threshold: Double, valPct: Int,
                          capacity: Int, semanticTau: Double): String =
    s"spans:$minTokens:$threshold:$valPct:$capacity${semSuffix(semanticTau)}"

  /** Reads a stage marker; on a parameter mismatch the stale marker is
    * DELETED before returning None — the caller is about to overwrite
    * the outputs it certifies, and a crash mid-recompute must not leave
    * an old marker validating clobbered parquet (a later run with the
    * old params would skip the stage and serve the corruption as
    * committed).
    */
  /** Raw marker read: (params string, counts) with NO validation — the
    * wave path reads the BASE run's marker to inherit its parameters
    * (a wave must run under the same knobs as the corpus it extends).
    */
  private def readMarkerRaw(spark: SparkSession, outDir: String,
                            stage: String): Option[(String, Map[String, Long])] = {
    val p = new Path(s"$outDir/_stage_$stage")
    val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a marker REWRITE (the compacted marker grows per compaction)
    // commits via two renames; a crash between them leaves only
    // `.old` — roll BACK to it (the old marker still guards correctly;
    // the interrupted rewrite re-runs)
    val old = new Path(s"$outDir/_stage_$stage.old")
    if (!fsys.exists(p) && fsys.exists(old))
      require(fsys.rename(old, p), s"marker recovery failed for $stage")
    if (!fsys.exists(p)) None
    else {
      val in = fsys.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val kv = txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        .map { l => val Array(k, v) = l.split("=", 2); k -> v }
        .toMap
      kv.get("params").map(ps =>
        (ps, (kv - "params").map { case (k, v) => k -> v.toLong }))
    }
  }

  private def readMarker(spark: SparkSession, outDir: String,
                         stage: String, params: String): Option[Map[String, Long]] = {
    readMarkerRaw(spark, outDir, stage) match {
      case Some((ps, counts)) if ps == params => Some(counts)
      // a marker from a run with different parameters does not certify
      // this run's outputs — recompute rather than silently mix configs
      case Some(_) =>
        deleteMarker(spark, outDir, stage)
        None
      case None => None
    }
  }

  /** Marker deletion must remove the `.old` rewrite-staging sibling
    * too: readMarkerRaw rolls BACK from `.old` when the main file is
    * missing, so an orphaned sibling would resurrect an invalidated
    * marker (with its stale params and counts) on the next read.
    */
  private def deleteMarker(spark: SparkSession, outDir: String,
                           stage: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    // `.old` FIRST: a crash between the deletes must leave the main
    // marker (still-valid until fully deleted), never only `.old` —
    // readMarkerRaw's rollback would resurrect that as live
    Seq(s"$outDir/_stage_$stage.old", s"$outDir/_stage_$stage")
      .foreach { s =>
        val p = new Path(s)
        if (p.getFileSystem(hconf).exists(p))
          p.getFileSystem(hconf).delete(p, false)
      }
  }

  /** Lists committed wave ids from `_stage_wave_<id>` marker files. */
  private def waveMarkerIds(spark: SparkSession, outDir: String): Seq[Int] = {
    val dir = new Path(outDir)
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fsys.exists(dir)) Seq.empty
    // `.old` rewrite-staging orphans count too: readMarkerRaw would
    // roll one back into a live marker, so invalidation must see (and
    // deleteMarker must remove) their ids
    else fsys.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("_stage_wave_"))
      .map(_.stripPrefix("_stage_wave_").stripSuffix(".old").toInt)
      .toSeq.distinct.sorted
  }

  /** A BASE-stage recompute invalidates every wave built on top of it:
    * the overwrite wipes the `wave=N` partitions while their markers
    * survive, so a later `runWave(N)` with matching params would be an
    * idempotent no-op serving counts for data that no longer exists.
    * Delete the wave markers FIRST (forcing waves to replay), then —
    * for a docs-stage recompute, which invalidates the wave DATA too —
    * the `wave!=0` partition dirs and the wave manifest. A spans-only
    * (capacity) recompute keeps the wave docs-level outputs on disk:
    * they are byte-identical under replay, and replay's own
    * delete-then-recompute handles them.
    */
  private def invalidateWaves(spark: SparkSession, outDir: String,
                              deleteData: Boolean): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val ids = waveMarkerIds(spark, outDir)
    if (!deleteData) {
      // a spans-only recompute may only drop markers whose wave DATA is
      // still on disk (replay rebuilds it byte-identically). A marker
      // whose partitions are gone means an interrupted compactRun folded
      // the wave but never absorbed the marker — deleting it here would
      // destroy the folded wave's replay guard and counts; completing
      // the compaction is the fix, said loudly.
      ids.foreach { id =>
        // PER-TABLE implication: a compactRun crash between tables can
        // fold train_docs while val_docs still has its wave dir — an OR
        // would pass the guard and let replay duplicate the folded side
        val counts = readMarkerRaw(spark, outDir, s"wave_$id")
          .map(_._2).getOrElse(Map.empty)
        Seq(("train", "train_docs"), ("val", "val_docs")).foreach {
          case (key, table) =>
            val p = new Path(s"$outDir/$table/wave=$id")
            require(counts.getOrElse(key, 0L) == 0L ||
              p.getFileSystem(hconf).exists(p),
              s"wave $id's $table partitions are folded into the base " +
                "but its marker was never absorbed (interrupted " +
                "prepare-run-compact?) — run prepare-run-compact to " +
                "complete it, then retry")
        }
      }
    }
    ids.foreach(id => deleteMarker(spark, outDir, s"wave_$id"))
    if (deleteData) {
      // the compacted-waves marker certifies docs-level identity of
      // FOLDED waves — only a docs-front recompute invalidates it (a
      // spans-only recompute keeps folded docs valid inside wave=0)
      deleteMarker(spark, outDir, "compacted")
      Seq("train_docs", "val_docs", "train_spans", "dedup_index",
          "semantic_reps")
        .foreach { t =>
          val tp = new Path(s"$outDir/$t")
          val fsys = tp.getFileSystem(hconf)
          if (fsys.exists(tp)) {
            fsys.listStatus(tp).map(_.getPath)
              .filter(p => p.getName.startsWith("wave=") &&
                p.getName != "wave=0")
              .foreach(fsys.delete(_, true))
          }
        }
      val wm = new Path(s"$outDir/wave_manifest")
      if (wm.getFileSystem(hconf).exists(wm))
        wm.getFileSystem(hconf).delete(wm, true)
      spark.catalog.refreshByPath(outDir)
    }
  }

  private def writeMarker(spark: SparkSession, outDir: String, stage: String,
                          params: String, counts: Seq[(String, Long)]): Unit = {
    val p = new Path(s"$outDir/_stage_$stage")
    val tmp = new Path(s"$outDir/._stage_$stage.tmp")
    val fsys = ShardSink.fileSystem(p, spark.sparkContext.hadoopConfiguration)
    val out = fsys.create(tmp, true)
    try out.write((s"params=$params" +:
        counts.map { case (k, v) => s"$k=$v" })
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // rewriting an existing marker: stage it to .old first (rename onto
    // an existing path fails on HDFS and local alike); readMarkerRaw
    // rolls back from .old if the commit rename never happens
    val old = new Path(s"$outDir/_stage_$stage.old")
    if (fsys.exists(p)) {
      if (fsys.exists(old)) fsys.delete(old, false)
      require(fsys.rename(p, old), s"marker stage failed for $stage")
    }
    require(fsys.rename(tmp, p), s"marker commit failed for stage $stage")
    if (fsys.exists(old)) fsys.delete(old, false)
    ()
  }

  /** `semanticTau` (NaN = disabled) turns on the SemDeDup-style
    * semantic stage between near-dup dedup and decontamination: docs
    * must carry an `embedding` column; the removal semantics are
    * exactly x87's capped pipeline (`Similarity.semanticDedupState` —
    * scaled k, repCap window), the clustering state persists as
    * `semantic_centroids` + `semantic_reps` (wave-partitioned), and
    * `runWave` extends the pass incrementally (wave vectors dedup
    * against committed cluster representatives, committed docs win).
    * The tau fingerprints into both stage markers, so changing it (or
    * toggling the stage) recomputes the front like any other docs knob.
    */
  /** The committed base run's semantic tau (None when the stage was
    * off) from the docs marker's params — the knob a streaming
    * tripwire over the same corpus must inherit, per the
    * params-from-markers discipline (`runWave` reads it the same way).
    */
  def semanticTauOf(spark: SparkSession, outDir: String): Option[Double] =
    readMarkerRaw(spark, outDir, "docs").flatMap { case (ps, _) =>
      ps.split(":").find(_.startsWith("sem"))
        .map(_.stripPrefix("sem").toDouble)
    }

  def run(spark: SparkSession, docs: DataFrame, bench: DataFrame,
          outDir: String, minTokens: Int = 25, threshold: Double = 0.5,
          capacity: Int = 512, valPct: Int = 5,
          semanticTau: Double = Double.NaN): Seq[(String, Long)] = {
    val fpDocs = docsParams(minTokens, threshold, valPct, semanticTau)
    val fpSpans = spansParams(minTokens, threshold, valPct, capacity,
      semanticTau)

    // stage "docs": quality → dedup → decontaminate → split → epoch rank;
    // commits train_docs + val_docs and the front's manifest counts (the
    // expensive half of the pipeline — the half resume must never redo)
    val frontCounts = readMarker(spark, outDir, "docs", fpDocs).getOrElse {
      // recomputing the front invalidates every committed wave (the
      // overwrite below wipes their partitions) — clear their markers
      // and data so they replay instead of serving ghost counts
      invalidateWaves(spark, outDir, deleteData = true)
      // an ANN index synced against the old front indexes doc_ids that
      // are about to be rewritten — drop its marker so the next
      // syncAnnIndex rebuilds from scratch instead of serving stale ids
      deleteMarker(spark, outDir, "ann")
      val q = docs.filter(Pack.tokenCount(col("text")) >= minTokens)
      // surv feeds BOTH the decontamination build and its manifest count;
      // clean feeds the split writes and its count — left lazy, each extra
      // consumer re-runs the survivor anti-join and the whole-corpus
      // shingle-explode bloom pass (the x61/x62 multi-consumer rule)
      val surv = Dedup.dedupSurvivors(q, "doc_id",
        Dedup.minHashLsh(q, "doc_id", "text", threshold = threshold))
        .localCheckpoint()
      // optional semantic stage over the near-dup SURVIVORS: x87's
      // capped pipeline, with the clustering state persisted so waves
      // extend the pass incrementally
      val semKept =
        if (semanticTau.isNaN) surv
        else {
          require(docs.columns.contains("embedding"),
            "semanticTau set but docs carry no embedding column")
          val (cents, removal, reps) = Similarity.semanticDedupState(
            surv.select(col("doc_id").as("vec_id"), col("embedding")),
            targetSize = 128, repCap = 256, tau = semanticTau)
          import spark.implicits._
          cents.zipWithIndex
            .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
            .toDF("cluster", "centroid")
            .write.mode("overwrite")
            .parquet(s"$outDir/semantic_centroids")
          reps.withColumn("wave", lit(0))
            .write.mode("overwrite").partitionBy("wave")
            .parquet(s"$outDir/semantic_reps")
          surv.join(removal.select(col("vec_id").as("_sem_id")),
              surv("doc_id") === col("_sem_id"), "left_anti")
            .localCheckpoint()
        }
      // the bloom + benchmark shingles are built once and PERSISTED:
      // wave-mode appends (`runWave`) decontaminate later waves against
      // these artifacts without re-shingling the benchmark
      val (bfBytes, benchSh) = Contamination.buildBloom(bench, "text", 8)
      val clean = Contamination.decontaminateWithBloom(
        semKept, "doc_id", "text", 8, bfBytes, benchSh)
        .localCheckpoint()
      // deterministic split: seeded md5 bucket, val = first valPct of 100
      val bucketed = clean.withColumn("bucket",
        pmod(abs(hash(md5(concat(col("doc_id").cast("string"),
          lit(":split"))))), lit(100)))
      val valSet = bucketed.filter(col("bucket") < valPct).drop("bucket")
      val train = bucketed.filter(col("bucket") >= valPct).drop("bucket")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
      val ordered = train.withColumn("epoch_rank", row_number().over(w))
      // outputs are wave=0 partition dirs: a later `runWave(waveId)`
      // appends ONLY its own wave=N dir, so wave replay can delete and
      // recompute its exact files without touching committed waves
      ordered.withColumn("wave", lit(0))
        .write.mode("overwrite").partitionBy("wave")
        .parquet(s"$outDir/train_docs")
      valSet.withColumn("wave", lit(0))
        .write.mode("overwrite").partitionBy("wave")
        .parquet(s"$outDir/val_docs")
      // the standing dedup index over the KEPT docs (near-dup evidence
      // against a removed doc must not drop a wave doc) — what every
      // later wave dedups against (x21's incremental discipline)
      Dedup.sketchIndex(clean, "doc_id", "text")
        .withColumn("wave", lit(0))
        .write.mode("overwrite").partitionBy("wave")
        .parquet(s"$outDir/dedup_index")
      benchSh.write.mode("overwrite").parquet(s"$outDir/bench_shingles")
      import spark.implicits._
      Seq((bfBytes, 8)).toDF("bf", "n")
        .write.mode("overwrite").parquet(s"$outDir/bench_bloom")
      val counts = Seq(
        ("input", docs.count()),
        ("quality_pass", q.count()),
        ("dedup_survivors", surv.count())) ++
        (if (semanticTau.isNaN) Seq.empty
         else Seq(("semantic_kept", semKept.count()))) ++
        Seq(("decontaminated", clean.count()))
      writeMarker(spark, outDir, "docs", fpDocs, counts)
      counts.toMap
    }

    // stage "spans": pack the committed train_docs (reads the stage-1
    // output, so resume never touches the dedup/decontaminate front).
    // Its fingerprint includes `capacity`, which the docs stage ignores:
    // a capacity-only change redoes ONLY this stage
    if (readMarker(spark, outDir, "spans", fpSpans).isEmpty) {
      // a spans-only recompute (capacity change) wipes every wave's
      // span partitions too — wave markers must go so waves replay
      // (their docs-level outputs are byte-identical under replay)
      invalidateWaves(spark, outDir, deleteData = false)
      // pack the BASE partition only (wave=0 — which, after a
      // compactRun fold, contains every folded wave's docs): unfolded
      // waves re-pack their own spans on replay with window
      // continuation, so a capacity change + sequential wave replays
      // rebuilds the whole spans table without duplicating any doc
      val spans = Pack.packedSpans(
        spark.read.parquet(s"$outDir/train_docs")
          .filter(col("wave") === 0),
        "doc_id", "text", "lang", capacity = capacity)
      spans.withColumn("wave", lit(0))
        .write.mode("overwrite").partitionBy("wave")
        .parquet(s"$outDir/train_spans")
      writeMarker(spark, outDir, "spans", fpSpans, Seq.empty)
    }

    // manifest: derived from the docs-stage marker + committed outputs;
    // rewritten last and idempotently (same inputs → same rows)
    val manifest = Seq(
      ("input", frontCounts("input")),
      ("quality_pass", frontCounts("quality_pass")),
      ("dedup_survivors", frontCounts("dedup_survivors"))) ++
      frontCounts.get("semantic_kept")
        .map(("semantic_kept", _)).toSeq ++ Seq(
      ("decontaminated", frontCounts("decontaminated")),
      ("train", spark.read.parquet(s"$outDir/train_docs").count()),
      ("val", spark.read.parquet(s"$outDir/val_docs").count()),
      ("train_spans", spark.read.parquet(s"$outDir/train_spans").count()))
    import spark.implicits._
    manifest.toDF("stage", "n")
      .write.mode("overwrite").parquet(s"$outDir/manifest")
    manifest
  }

  /** Incremental (wave-mode) prepare-run: process ONE new corpus wave
    * against a completed base run WITHOUT touching any committed
    * output — at 100 TB a daily ingest wave must cost O(wave), not the
    * hours-long full re-run the base paid. The wave pipeline:
    *
    *   quality floor → wave-INTERNAL near-dup survivors (same
    *   minHashLsh/dedupSurvivors as the base) → cross-corpus dedup
    *   against the PERSISTED sketch index (`incrementalNearDupIndexed`,
    *   O(wave + touched buckets); committed corpus docs always win — a
    *   wave near-dup of an indexed doc is dropped, never the reverse) →
    *   decontamination against the PERSISTED bloom + benchmark shingles
    *   (zero benchmark re-shingling) → the SAME deterministic md5
    *   split (a doc's train/val assignment depends only on its doc_id,
    *   so the union split stays disjoint-and-complete by construction)
    *   → epoch ranks CONTINUE after each source's committed max →
    *   spans pack the wave's train docs into fresh windows starting
    *   after each lang's committed max window.
    *
    * Every output lands in `wave=<waveId>` partition directories of the
    * base tables, and the wave's sketch index appends under the same
    * wave dir — so wave N+1 dedups against base ∪ waves 1..N. Append
    * never reopens committed pack windows: the base's tail window per
    * lang may stay under-filled (bounded waste, < 1 window per lang per
    * wave) — the price of immutable prior outputs.
    *
    * Crash safety mirrors the base stage-marker protocol: the wave's
    * marker (`_stage_wave_<id>`) commits AFTER all wave outputs; replay
    * of an unmarked or param-mismatched wave DELETES that wave's
    * partition dirs before recomputing (they are exactly identifiable —
    * the reason the layout is partitioned by wave), so a crash at any
    * point leaves committed waves intact and the interrupted wave fully
    * redone. A marked wave with matching params is an idempotent no-op.
    *
    * Parameters are NOT arguments: they are read from the base run's
    * committed markers, so a wave can never silently run under
    * different knobs than the corpus it extends. The spec-pinned
    * equivalence: base(c1) + runWave(w2) satisfies the one-shot(c1∪w2)
    * invariants — zero surviving near-dup pairs across the union at the
    * threshold, zero contaminated survivors, disjoint-and-complete
    * split with identical per-doc assignment, per-source epoch ranks a
    * permutation of 1..n, one span row per train doc.
    *
    * Returns the wave's manifest counts (also appended to
    * `wave_manifest` as (wave, stage, n) rows).
    */
  def runWave(spark: SparkSession, wave: DataFrame, outDir: String,
              waveId: Int): Seq[(String, Long)] = {
    require(waveId >= 1, "waveId 0 is the base run; waves start at 1")
    val (docsParamStr, _) = readMarkerRaw(spark, outDir, "docs").getOrElse(
      throw new IllegalStateException(
        s"$outDir has no completed base docs stage — run PrepareRun.run first"))
    val (spansParamStr, _) = readMarkerRaw(spark, outDir, "spans").getOrElse(
      throw new IllegalStateException(
        s"$outDir has no completed base spans stage — run PrepareRun.run first"))
    // "docs:<minTokens>:<threshold>:<valPct>[:sem<tau>]" /
    // "spans:...:<capacity>[:sem<tau>]"
    val dp = docsParamStr.split(":")
    val minTokens = dp(1).toInt
    val threshold = dp(2).toDouble
    val valPct = dp(3).toInt
    val capacity = spansParamStr.split(":")(4).toInt
    val semTau: Option[Double] =
      if (dp.length > 4 && dp(4).startsWith("sem"))
        Some(dp(4).stripPrefix("sem").toDouble)
      else None
    val waveParams =
      s"wave:$waveId:$minTokens:$threshold:$valPct:$capacity" +
        semTau.map(t => s":sem$t").getOrElse("")
    val stage = s"wave_$waveId"

    // waves folded into wave=0 by compactRun no longer have their own
    // partition dirs — a replay would APPEND duplicates of docs that
    // now live in the base partition. The compacted marker makes their
    // replay an idempotent no-op (counts preserved) under matching
    // docs params, and a loud error otherwise.
    readMarkerRaw(spark, outDir, "compacted") match {
      case Some((cps, ccounts))
          if waveId <= ccounts.getOrElse("max_wave", 0L) =>
        val expect = "compact:" + dp.drop(1).mkString(":")
        require(cps == expect,
          s"wave $waveId was folded into the base under params $cps; " +
            s"it cannot replay under $expect — recompute the base run")
        val folded = ccounts.collect {
          case (k, v) if k.startsWith(s"w${waveId}_") =>
            (k.stripPrefix(s"w${waveId}_"), v)
        }.toSeq.sortBy(_._1)
        // a waveId under max_wave that was NEVER committed must not be
        // swallowed as an empty no-op — wave ids are increasing by
        // contract (priorMax/priorWin read `wave < waveId`), so a new
        // id below the fold point is a caller error, said loudly
        require(folded.nonEmpty,
          s"wave $waveId is below the compacted max_wave but was never " +
            "committed — wave ids must be increasing")
        return folded
      case _ =>
    }
    readMarkerRaw(spark, outDir, stage) match {
      case Some((ps, counts)) if ps == waveParams =>
        // committed wave: idempotent replay returns the recorded counts
        return counts.toSeq.sortBy(_._1)
      case Some(_) =>
        deleteMarker(spark, outDir, stage)
      case None =>
    }
    // unmarked (crashed or param-changed) wave: delete exactly this
    // wave's partition dirs before recomputing
    Seq("train_docs", "val_docs", "train_spans", "dedup_index",
        "semantic_reps", "wave_manifest").foreach { t =>
      val p = new Path(s"$outDir/$t/wave=$waveId")
      val fsys = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fsys.exists(p)) fsys.delete(p, true)
    }
    // manual fs deletes bypass Spark's write-path cache invalidation:
    // drop any cached file listings under outDir so the reads below
    // (and any pre-replay reader in this session) re-list
    spark.catalog.refreshByPath(outDir)

    val q = wave.filter(Pack.tokenCount(col("text")) >= minTokens)
    val waveSurv = Dedup.dedupSurvivors(q, "doc_id",
      Dedup.minHashLsh(q, "doc_id", "text", threshold = threshold))
      .localCheckpoint()
    // committed corpus wins: any wave doc near-dup of an indexed doc drops
    val idx = Dedup.loadIndex(spark, s"$outDir/dedup_index")
    val dupHits = Dedup.incrementalNearDupIndexed(
        idx, waveSurv, "doc_id", "text", threshold = threshold)
      .select(col("batch_id").as("_dup_id")).distinct()
    val crossKept = waveSurv
      .join(dupHits, waveSurv("doc_id") === col("_dup_id"), "left_anti")
    // optional semantic stage: wave vectors dedup against the committed
    // cluster representatives (Similarity.semanticDedupWave — committed
    // docs always win), and the wave's window entrants append so wave
    // N+1 sees base ∪ waves 1..N
    val semKept = semTau match {
      case None => crossKept
      case Some(tau) =>
        require(wave.columns.contains("embedding"),
          "base run used semantic dedup but the wave has no embedding")
        val cents = spark.read.parquet(s"$outDir/semantic_centroids")
          .orderBy("cluster").select("centroid").collect()
          .map(_.getSeq[Float](0).toArray)
        val reps = spark.read.parquet(s"$outDir/semantic_reps")
          .filter(col("wave") < waveId)
          .select("cluster", "rep_rank", "vec_id", "embedding")
        val (removal, newReps) = Similarity.semanticDedupWave(
          crossKept.select(col("doc_id").as("vec_id"), col("embedding")),
          cents, reps, repCap = 256, tau = tau)
        newReps.withColumn("wave", lit(waveId))
          .write.mode("append").partitionBy("wave")
          .parquet(s"$outDir/semantic_reps")
        crossKept.join(removal.select(col("vec_id").as("_sem_id")),
            crossKept("doc_id") === col("_sem_id"), "left_anti")
          .localCheckpoint()
    }
    val bloomRow = spark.read.parquet(s"$outDir/bench_bloom").head()
    val clean = Contamination.decontaminateWithBloom(
        semKept, "doc_id", "text", bloomRow.getAs[Int]("n"),
        bloomRow.getAs[Array[Byte]]("bf"),
        spark.read.parquet(s"$outDir/bench_shingles"))
      .localCheckpoint()
    val bucketed = clean.withColumn("bucket",
      pmod(abs(hash(md5(concat(col("doc_id").cast("string"),
        lit(":split"))))), lit(100)))
    val valSet = bucketed.filter(col("bucket") < valPct).drop("bucket")
    val train = bucketed.filter(col("bucket") >= valPct).drop("bucket")
    // epoch ranks continue after each source's committed max (read-only
    // source-sized agg over the prior waves — partition-pruned)
    val priorMax = spark.read.parquet(s"$outDir/train_docs")
      .filter(col("wave") < waveId)
      .groupBy("source").agg(max("epoch_rank").as("_prior_max"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
    val ordered = train.withColumn("_r", row_number().over(w))
      .join(broadcast(priorMax), Seq("source"), "left")
      .withColumn("epoch_rank",
        (col("_r") + coalesce(col("_prior_max"), lit(0))).cast("int"))
      .drop("_r", "_prior_max")
      .localCheckpoint() // feeds the write AND the spans pack below
    ordered.withColumn("wave", lit(waveId))
      .write.mode("append").partitionBy("wave")
      .parquet(s"$outDir/train_docs")
    valSet.withColumn("wave", lit(waveId))
      .write.mode("append").partitionBy("wave")
      .parquet(s"$outDir/val_docs")
    // fresh pack windows after each lang's committed max window
    val priorWin = spark.read.parquet(s"$outDir/train_spans")
      .filter(col("wave") < waveId)
      .groupBy("lang").agg(max("end_window").as("_prior_win"))
    val spans = Pack.packedSpans(ordered, "doc_id", "text", "lang",
        capacity = capacity)
      .join(broadcast(priorWin), Seq("lang"), "left")
      .withColumn("start_window",
        col("start_window") + coalesce(col("_prior_win") + 1, lit(0L)))
      .withColumn("end_window",
        col("end_window") + coalesce(col("_prior_win") + 1, lit(0L)))
      .drop("_prior_win")
    spans.withColumn("wave", lit(waveId))
      .write.mode("append").partitionBy("wave")
      .parquet(s"$outDir/train_spans")
    // wave N+1 dedups against base ∪ waves 1..N
    Dedup.sketchIndex(clean, "doc_id", "text")
      .withColumn("wave", lit(waveId))
      .write.mode("append").partitionBy("wave")
      .parquet(s"$outDir/dedup_index")

    val counts = Seq(
      ("input", wave.count()),
      ("quality_pass", q.count()),
      ("wave_survivors", waveSurv.count()),
      ("cross_corpus_kept", crossKept.count())) ++
      (if (semTau.isEmpty) Seq.empty
       else Seq(("semantic_kept", semKept.count()))) ++ Seq(
      ("decontaminated", clean.count()),
      ("train", spark.read.parquet(s"$outDir/train_docs")
        .filter(col("wave") === waveId).count()),
      ("val", spark.read.parquet(s"$outDir/val_docs")
        .filter(col("wave") === waveId).count()),
      ("train_spans", spark.read.parquet(s"$outDir/train_spans")
        .filter(col("wave") === waveId).count()))
    import spark.implicits._
    counts.map { case (st, c) => (waveId, st, c) }
      .toDF("wave", "stage", "n")
      .write.mode("append").partitionBy("wave")
      .parquet(s"$outDir/wave_manifest")
    writeMarker(spark, outDir, stage, waveParams, counts)
    counts
  }

  /** Long-run maintenance: fold every marker-COMMITTED `wave=N`
    * partition into a fresh `wave=0` base per table — after thousands
    * of daily waves the tables hit the same small-file wall
    * `Similarity.compactIndex` solves for ANN indexes, and a naive
    * flat rewrite would break the wave-dir crash-recovery contract.
    *
    * Protocol (per table, the compactIndex swap discipline): the fold
    * READS the live table and writes the union as `wave=0` into
    * `<table>.compacting` (bytes-sized file count, doc_id-sorted files
    * for footer stats), then commits via rename-to-`.old` + rename +
    * delete. A crash leaves either the original or the folded table
    * fully live (`.old` recovery on the next run); a crash BETWEEN
    * tables is safe because data location is semantics-free — every
    * read path (`priorMax`, `priorWin`, `loadIndex`, manifest counts)
    * filters on wave RANGES or reads whole tables, and folded rows
    * keep their values.
    *
    * Markers commit LAST: per-wave counts are re-homed from the
    * `_stage_wave_N` markers into ONE `_stage_compacted` marker
    * (`w<N>_<stage>=count` rows + `max_wave`, docs-level params
    * preserved), then the wave markers are deleted. `runWave(N+1)`
    * works unchanged afterwards; `runWave(k <= max_wave)` becomes an
    * idempotent no-op serving the preserved counts (replaying a folded
    * wave would duplicate docs now living in wave=0 — the marker is
    * the guard). Refuses loudly while ANY wave dir lacks its marker (an
    * in-flight or crashed wave must replay before its data is folded).
    *
    * Returns per-table (filesBefore, filesAfter).
    */
  def compactRun(spark: SparkSession, outDir: String,
                 targetBytes: Long = 128L * 1024 * 1024)
      : Map[String, (Int, Int)] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val (docsParamStr, _) = readMarkerRaw(spark, outDir, "docs").getOrElse(
      throw new IllegalStateException(
        s"$outDir has no completed base docs stage — nothing to compact"))
    val dp = docsParamStr.split(":")
    // docs-level identity incl. the semantic suffix when present
    val compactParams = "compact:" + dp.drop(1).mkString(":")

    val tables = Seq("train_docs", "val_docs", "train_spans",
      "dedup_index", "semantic_reps")
    def parquetFiles(p: Path): Int = {
      val fsys = p.getFileSystem(hconf)
      if (!fsys.exists(p)) 0
      else fsys.listStatus(p).map { s =>
        if (s.isDirectory) parquetFiles(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet")) 1 else 0
      }.sum
    }

    // committed waves (markers) + prior folds; every wave DIR must be
    // marker-committed before its data may be folded
    val waveIds = waveMarkerIds(spark, outDir)
    val prior = readMarkerRaw(spark, outDir, "compacted")
    prior.foreach { case (ps, _) =>
      require(ps == compactParams,
        s"compacted marker params $ps do not match the base " +
          s"($compactParams) — recompute the base run first")
    }
    tables.foreach { t =>
      val tp = new Path(s"$outDir/$t")
      val fsys = tp.getFileSystem(hconf)
      if (fsys.exists(tp)) {
        fsys.listStatus(tp).map(_.getPath.getName)
          .filter(n => n.startsWith("wave=") && n != "wave=0")
          .foreach { n =>
            val id = n.stripPrefix("wave=").toInt
            require(waveIds.contains(id),
              s"$t/$n has no committed _stage_wave_$id marker — " +
                "replay the wave before compacting")
          }
      }
    }
    // per-wave counts, re-homed into the compacted marker below
    val waveCounts = waveIds.flatMap { id =>
      readMarkerRaw(spark, outDir, s"wave_$id").toSeq.flatMap {
        case (_, counts) =>
          counts.map { case (k, v) => (s"w${id}_$k", v) }
      }
    }

    val report = tables.flatMap { t =>
      val cur = new Path(s"$outDir/$t")
      val fsys = cur.getFileSystem(hconf)
      // recovery: a prior crash between the two renames leaves only .old
      val old = new Path(s"$outDir/$t.old")
      if (!fsys.exists(cur) && fsys.exists(old))
        require(fsys.rename(old, cur), s"compact recovery failed for $t")
      if (!fsys.exists(cur)) None
      else {
        val before = parquetFiles(cur)
        val bytes = fsys.getContentSummary(cur).getLength
        val target =
          math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        val hasWaveDirs = fsys.listStatus(cur).exists(s =>
          s.isDirectory && s.getPath.getName.startsWith("wave=") &&
            s.getPath.getName != "wave=0")
        // steady-state skip: an already-folded, already-sized table is
        // left untouched — repeated maintenance costs O(new waves)
        if (!hasWaveDirs && before <= target)
          Some(t -> ((before, before)))
        else {
          val next = new Path(s"$outDir/$t.compacting")
          if (fsys.exists(next)) fsys.delete(next, true)
          val df = spark.read.parquet(cur.toString)
          val sorted = df.drop("wave").withColumn("wave", lit(0))
            .repartition(target)
          (if (df.columns.contains("doc_id"))
             sorted.sortWithinPartitions("doc_id") else sorted)
            .write.partitionBy("wave").parquet(next.toString)
          if (fsys.exists(old)) fsys.delete(old, true)
          require(fsys.rename(cur, old), s"compact swap: cannot stage $t")
          require(fsys.rename(next, cur),
            s"compact swap: cannot commit $t")
          fsys.delete(old, true)
          Some(t -> ((before, parquetFiles(cur))))
        }
      }
    }.toMap
    spark.catalog.refreshByPath(outDir)

    // markers last: one compacted marker absorbs the wave markers.
    // Nothing to absorb and no prior marker → leave no marker behind
    // (a max_wave=0 marker would be noise on a never-compacted run)
    if (waveIds.isEmpty && prior.isEmpty) return report
    val priorCounts = prior.map(_._2).getOrElse(Map.empty)
    val maxWave = math.max(
      priorCounts.getOrElse("max_wave", 0L),
      waveIds.lastOption.getOrElse(0).toLong)
    val mergedCounts =
      (priorCounts - "max_wave") ++ waveCounts.toMap +
        ("max_wave" -> maxWave)
    writeMarker(spark, outDir, "compacted", compactParams,
      mergedCounts.toSeq.sortBy(_._1))
    waveIds.foreach(id => deleteMarker(spark, outDir, s"wave_$id"))
    report
  }

  /** Keep a persisted IVF ANN index in sync with the run's COMMITTED
    * train docs, incrementally — where "IVF index maintenance meets
    * waves": the first call builds the index over every committed wave
    * (`Similarity.writeIvfIndex`); later calls append ONLY the waves
    * committed since the last sync, assigned under the frozen coarse
    * quantizer, with the x84 drift tripwire deciding retrain-vs-append
    * (`Similarity.maintainIvfIndex` — a fired tripwire rebuilds from
    * the full committed corpus via the atomic `.retraining` swap).
    *
    * Exactly-once under crash replay: the `_stage_ann` marker commits
    * AFTER the index mutation, and the append pass anti-joins the
    * candidate vectors against the ids already in the lists — so a
    * sync that crashed between index write and marker write replays
    * into a no-op append instead of duplicating rows (the id probe is
    * a single-column scan of the lists, the same economics as the
    * appendUnique bucket probe). A base-front recompute in `run`
    * drops the marker, forcing the next sync to rebuild.
    *
    * Returns (max_wave, n_appended, retrained) as marker-shaped counts.
    */
  def syncAnnIndex(spark: SparkSession, outDir: String, indexDir: String,
                   nlist: Int = 16, trainIters: Int = 0,
                   retrainMicro: Long = 500000L): Map[String, Long] = {
    require(readMarkerRaw(spark, outDir, "docs").nonEmpty,
      s"$outDir has no completed base docs stage — run PrepareRun.run first")
    val waveIds = waveMarkerIds(spark, outDir)
    val compactedMax = readMarkerRaw(spark, outDir, "compacted")
      .flatMap(_._2.get("max_wave")).getOrElse(0L)
    val committedMax = math.max(compactedMax,
      waveIds.lastOption.getOrElse(0).toLong)
    val docs = spark.read.parquet(s"$outDir/train_docs")
    require(docs.columns.contains("embedding"),
      "syncAnnIndex needs an embedding column on train_docs")
    def vecs(df: DataFrame): DataFrame =
      df.select(col("doc_id").as("vec_id"), col("source").as("label"),
        col("embedding"))
    val params = s"ann:$nlist:$retrainMicro"
    val result = readMarkerRaw(spark, outDir, "ann") match {
      case Some((ps, counts)) =>
        require(ps == params,
          s"ann index was synced under '$ps', not '$params' — delete the " +
            "index and the _stage_ann marker to resync under new knobs")
        val indexedMax = counts.getOrElse("max_wave", 0L)
        // compactRun rewrites every committed row to wave=0, so waves
        // folded AFTER the last sync can never match a wave > indexedMax
        // filter — fall back to the full corpus as candidates (the
        // anti-join below is what actually guarantees exactly-once; the
        // wave filter is only the cheap steady-state path)
        val candidates =
          if (compactedMax > indexedMax) vecs(docs)
          else vecs(docs.filter(col("wave") > indexedMax))
        val fresh = candidates
          .join(spark.read.parquet(s"$indexDir/lists").select("vec_id"),
            Seq("vec_id"), "left_anti")
          .localCheckpoint()
        val n = fresh.count()
        val rebuilt = n > 0 && Similarity.maintainIvfIndex(spark, indexDir,
          fresh, vecs(docs), trainIters = trainIters,
          retrainMicro = retrainMicro)._2
        Map("max_wave" -> committedMax, "n_appended" -> n,
          "retrained" -> (if (rebuilt) 1L else 0L))
      case None =>
        val all = vecs(docs).localCheckpoint()
        val n = all.count()
        Similarity.writeIvfIndex(all, indexDir, nlist, trainIters)
        Map("max_wave" -> committedMax, "n_appended" -> n, "retrained" -> 0L)
    }
    writeMarker(spark, outDir, "ann", params, result.toSeq.sortBy(_._1))
    result
  }
}
