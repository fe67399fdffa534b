package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.pipeline.IncrementalFinal

/** Streaming IVM: fold a CONTINUOUS signed changelog into persisted
  * per-key aggregate state — [[IncrementalFinal.maintainAggregate]]
  * driven by Structured Streaming's `foreachBatch`, with the state
  * protocol that survives failure re-delivery.
  *
  * The trap this module exists for: `foreachBatch` is AT-LEAST-once —
  * a crash between the state write and the checkpoint commit re-runs
  * the same (batchId, data), and a naive read-fold-overwrite applies
  * the delta TWICE. The fix is batchId-VERSIONED state:
  *
  *   - state lives in `stateDir/v=<batchId>/` (parquet);
  *   - batch b folds the latest version STRICTLY BELOW b — never
  *     "the latest", which on re-delivery is b's own possibly
  *     half-written output — and overwrites `v=b` deterministically;
  *   - re-running batch b therefore recomputes `v=b` from the same
  *     predecessor and the same input: idempotent by construction,
  *     whether the first attempt died before, during, or after its
  *     write.
  *
  * At 100 TB the same protocol holds with the state bucketed by key
  * ([[CdcApply.mergeIntoBucketedState]]'s layout) so each fold
  * touches only the buckets its delta hits; version directories are
  * then per-bucket manifests. Suite proves: multi-batch folding ≡
  * recompute, re-delivery idempotence, and restart-from-checkpoint
  * continuation on the surviving state. */
object StreamingIvm {

  /** Committed state versions (batch ids), ascending. Only directories
    * carrying parquet's `_SUCCESS` marker count: a fold that died
    * mid-write leaves a marker-less directory, and an external
    * `readState(None)` must never observe that half-written latest
    * version as state. */
  def versions(spark: SparkSession, stateDir: String): Seq[Long] = {
    val p = new Path(stateDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")))
      .flatMap(st => // foreign `v=scratch` subdirs are ignored, not a
        scala.util.Try( // NumberFormatException abort (ADVICE r15)
          st.getPath.getName.stripPrefix("v=").toLong).toOption
          .filter(_ => st.getPath.getName.startsWith("v=")))
      .sorted
  }

  /** The state as of the latest version strictly below `beforeBatch`
    * (all versions when None); empty schema-less None if no state. */
  def readState(spark: SparkSession, stateDir: String,
                beforeBatch: Option[Long] = None): Option[DataFrame] = {
    val vs = versions(spark, stateDir)
    val eligible = beforeBatch.fold(vs)(b => vs.filter(_ < b))
    eligible.lastOption.map(v => spark.read.parquet(s"$stateDir/v=$v"))
  }

  /** The foreachBatch body: fold `batch` (rows with `keyCols`, `sign`,
    * `v_micro`) into `stateDir` under the versioned protocol. Public
    * so tests can drive re-delivery explicitly.
    *
    * Retention: after a successful write of `v=b`, versions older than
    * the newest `keepVersions` are deleted — without this, every batch
    * writes a FULL state copy and storage grows without bound at
    * streaming cadence (and `versions()` pays O(#batches) listStatus
    * per fold). `keepVersions` ≥ 2 is enforced: the just-written
    * version's PREDECESSOR must survive pruning, because an
    * at-least-once re-delivery of batch b re-folds from the latest
    * version strictly below b — pruning it would break the
    * idempotence the whole protocol exists for. */
  def applyBatch(spark: SparkSession, stateDir: String,
                 keyCols: Seq[String], keepVersions: Int = 3,
                 extremes: Boolean = false,
                 distinctCol: Option[String] = None)
                (batch: DataFrame, batchId: Long): Unit = {
    require(keepVersions >= 2,
      s"keepVersions must be >= 2 (re-delivery folds from the " +
        s"predecessor version), got $keepVersions")
    import org.apache.spark.sql.functions._
    val base = readState(spark, stateDir, Some(batchId)).getOrElse {
      // empty state with the maintenance schema
      batch.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(
          batch.select(keyCols.map(col): _*).schema.fields ++
            (Seq(org.apache.spark.sql.types.StructField("cnt",
              org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("n_nonnull",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("sum_micro",
                org.apache.spark.sql.types.LongType)) ++
              (if (extremes) Seq(
                org.apache.spark.sql.types.StructField("min_micro",
                  org.apache.spark.sql.types.LongType),
                org.apache.spark.sql.types.StructField("max_micro",
                  org.apache.spark.sql.types.LongType))
              else Nil) ++
              (if (distinctCol.isDefined) Seq(
                org.apache.spark.sql.types.StructField("kmv_distinct",
                  org.apache.spark.sql.types.ArrayType(
                    org.apache.spark.sql.types.LongType)))
              else Nil))))
    }
    // state-shape guard, BOTH directions (review r18): folding with a
    // NARROWER config than the state was built with would commit a
    // version that silently drops the maintained min/max/kmv columns —
    // the state could then no longer be repaired incrementally. And a
    // WIDER config against narrower state is semantically unsound, not
    // just unresolvable: pre-existing keys' historical values were
    // never tracked, so a mid-stream extremes/sketch column could only
    // claim batch-local extremes as corpus extremes — served as exact.
    // Turning the columns on requires a rebuild from the corpus (the
    // refreshSummary path), so an existing mismatched state fails
    // loudly here in either direction.
    // (an EMPTY state synthesizes its schema from this fold's config,
    // so the first fold always passes both checks)
    def shapeGuard(configured: Boolean, col0: String, what: String,
                   enable: String): Unit = {
      require(configured || !base.columns.contains(col0),
        s"StreamingIvm: state under $stateDir carries $what but this " +
          s"fold runs without it — the commit would drop the column(s); " +
          enable)
      require(!configured || base.columns.contains(col0),
        s"StreamingIvm: fold configured with $what but the state under " +
          s"$stateDir was built without it — pre-existing keys' history " +
          "was never tracked, so folding forward would serve batch-local " +
          "values as corpus-wide; rebuild the state (refreshSummary " +
          "path) to turn the column on")
    }
    shapeGuard(extremes, "min_micro", "extremes (min_micro/max_micro)",
      "pass extremes=true")
    shapeGuard(distinctCol.isDefined, "kmv_distinct",
      "a distinct sketch (kmv_distinct)", "pass the sketched column")
    val folded0 = IncrementalFinal.maintainAggregate(base, batch, keyCols)
    val folded =
      if (!extremes) folded0
      else {
        // INSERT-ONLY extremes: min/max fold monotone under +1 signs
        // (null-safe key merges throughout — a NULL grain key is a
        // real group and must meet its own state row; review r18)
        // (least/greatest of the surviving state and the batch's own
        // extremes — nulls skipped, so all-null batches and brand-new
        // keys both fold exactly). A retraction CANNOT be folded this
        // way (a deleted extreme needs the dirty-grain rescan
        // IncrementalFinal.refreshSummary runs) — any negative sign
        // fails the fold LOUDLY via assert_true rather than serving a
        // silently-wrong extreme.
        val dmm = batch.groupBy(keyCols.map(col): _*).agg(
          min(when(col("sign") > 0, col("v_micro"))).as("_d_min"),
          max(when(col("sign") > 0, col("v_micro"))).as("_d_max"),
          sum(when(col("sign") < 0, lit(1L)).otherwise(lit(0L)))
            .as("_d_dels"))
        val mmBase = base.select(
          (keyCols.map(col) :+ col("min_micro") :+ col("max_micro")): _*)
        val guard = assert_true(
          coalesce(col("_d_dels"), lit(0L)) === 0L,
          lit("StreamingIvm: extremes maintenance is insert-only — " +
            "retraction-bearing summaries repair through " +
            "IncrementalFinal.refreshSummary, not the streaming fold"))
        IncrementalFinal.keyMergeNullSafe(
            IncrementalFinal.keyMergeNullSafe(
              folded0, mmBase, keyCols, "left_outer"),
            dmm, keyCols, "left_outer")
          .select((keyCols.map(col) ++ Seq(
            col("cnt"), col("n_nonnull"), col("sum_micro"),
            when(guard.isNull,
              least(col("min_micro"), col("_d_min"))).as("min_micro"),
            when(guard.isNull,
              greatest(col("max_micro"), col("_d_max"))).as("max_micro"))): _*)
      }
    val folded2 = distinctCol match {
      case None => folded
      case Some(dc) =>
        // INSERT-ONLY distinct sketch: the per-key hash-set union folds
        // exactly under +1 signs (set union commutes with recompute —
        // the same algebra IncrementalFinal.maintainDistinct proves,
        // minus the dirty protocol a retraction would need; any
        // negative sign fails LOUDLY, mirroring the extremes arm).
        // Completeness holds by construction (no k-cap); batch-local
        // hash injectivity is asserted per fold GLOBALLY across keys
        // (distinct hashes ≡ distinct values over the whole batch): a
        // per-key check would pass a same-batch collision between
        // values under DIFFERENT keys, and the coarser-grain rollup
        // that unions sketches ACROSS grains would then undercount
        // while served as exact (review r18). Cross-batch collisions
        // remain the documented n²/2⁴⁹ residual a periodic
        // verifiedDistinctLicense compaction pass closes.
        //
        // The injectivity counts ride the SAME aggregate as the per-key
        // sketch delta via GROUPING SETS ((keys), ()) — previously they
        // were their own scan+aggregate+driver job per fold (r19;
        // grouping_id() separates the grand-total row from genuinely
        // NULL grain keys, the verifiedDistinctLicense precedent), and
        // the verdict is enforced by assert_true INSIDE the commit
        // plan: a collision fails the state write before it can produce
        // its _SUCCESS marker, so the bad version is never committed —
        // the same loud-failure contract as the driver-side require it
        // replaces.
        val hashed = graft.functions.Kmv.withHash(
          batch.select((keyCols.map(col) :+ col(dc) :+ col("sign")): _*),
          dc, "__h")
        val gagg = hashed
          .groupingSets(Seq(keyCols.map(col), Seq.empty),
            keyCols.map(col): _*)
          .agg(
            expr("array_sort(collect_set(CASE WHEN sign > 0 " +
              "THEN __h END))").as("_d_sk"),
            sum(when(col("sign") < 0, lit(1L)).otherwise(lit(0L)))
              .as("_d_dels"),
            countDistinct(when(col("sign") > 0, col("__h"))).as("_inj_h"),
            countDistinct(when(col("sign") > 0, col(dc))).as("_inj_v"),
            grouping_id().as("_gid"))
        val grandGid = (1L << keyCols.size) - 1L
        val injRow = gagg.filter(col("_gid") === grandGid)
          .select(col("_inj_h").as("__inj_h"), col("_inj_v").as("__inj_v"))
        val dsk = gagg.filter(col("_gid") === 0L)
          .select((keyCols.map(col) :+ col("_d_sk") :+ col("_d_dels")): _*)
          // one-row injectivity verdict broadcast onto every delta row
          // (an EMPTY batch has no grand row and no delta rows — the
          // fold is then a no-op exactly as before)
          .crossJoin(broadcast(injRow))
        val skBase = base.select(
          (keyCols.map(col) :+ col("kmv_distinct")): _*)
        val delGuard = assert_true(
          coalesce(col("_d_dels"), lit(0L)) === 0L,
          lit("StreamingIvm: distinct-sketch maintenance is insert-only " +
            "— retraction-bearing summaries repair through " +
            "IncrementalFinal.refreshSummary, not the streaming fold"))
        val injGuard = assert_true(
          coalesce(col("__inj_h"), lit(0L)) ===
            coalesce(col("__inj_v"), lit(0L)),
          lit("StreamingIvm: 48-bit hash collision inside a batch — the " +
            "distinct sketch would undercount; re-key or widen the hash"))
        val empty = "CAST(array() AS ARRAY<BIGINT>)"
        val outCols = folded.columns.toIndexedSeq
        IncrementalFinal.keyMergeNullSafe(
            IncrementalFinal.keyMergeNullSafe(
              folded, skBase, keyCols, "left_outer"),
            dsk, keyCols, "left_outer")
          .select((outCols.map(col) :+
            when(delGuard.isNull && injGuard.isNull, expr(
              s"""array_sort(array_distinct(concat(
                  coalesce(kmv_distinct, $empty),
                  coalesce(_d_sk, $empty))))""")).as("kmv_distinct")): _*)
    }
    commitVersion(spark, stateDir, folded2, batchId, keepVersions)
  }

  /** ONE definition of the versioned-commit protocol, shared by
    * [[applyBatch]] and [[CrawlDedup]]'s versioned folds (review r18 —
    * the two inline copies had already drifted in prose and a protocol
    * fix would have landed in one): materialize (the fold's
    * lineage reads the predecessor version, never the directory being
    * overwritten, and the checkpoint also decouples from the streaming
    * batch) → overwrite `stateDir/v=<batchId>` → verify the _SUCCESS
    * commit marker (versions() treats the marker as the commit record;
    * a committer configured with marksuccessfuljobs=false would make
    * every committed version INVISIBLE and silently re-fold from empty
    * state — fail loudly instead, ADVICE r12) → prune to the newest
    * `keepVersions` COMMITTED versions (the just-written version's
    * predecessor always survives — re-delivery folds from it), also
    * sweeping marker-less half-written leftovers older than the
    * survivors. */
  def commitVersion(spark: SparkSession, stateDir: String, df: DataFrame,
                    batchId: Long, keepVersions: Int): Unit = {
    // No checkpoint before the write (r18): the fold's lineage reads
    // the PREDECESSOR version (`readState(Some(batchId))` selects
    // strictly below batchId), never `v=<batchId>` itself, so the
    // overwrite is read-free and the write can execute the fold plan
    // directly — the old eager checkpoint materialized every
    // committed state TWICE (once to executor storage, once reading it
    // back for parquet), one full extra pass per fold at any scale.
    df.write.mode(SaveMode.Overwrite).parquet(s"$stateDir/v=$batchId")
    val fsv = new Path(s"$stateDir/v=$batchId")
    val fs0 = fsv.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs0.exists(new Path(fsv, "_SUCCESS")),
      s"StreamingIvm: state write v=$batchId produced no _SUCCESS " +
        "marker — the committer is configured with " +
        "marksuccessfuljobs=false; the versioned-fold protocol " +
        "cannot see commits without markers")
    val p = new Path(stateDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val keep = versions(spark, stateDir).takeRight(keepVersions).toSet
    fs.listStatus(p).toSeq
      .filter { st =>
        val name = st.getPath.getName
        name.startsWith("v=") &&
          scala.util.Try(name.stripPrefix("v=").toLong).toOption
            .exists(v => !keep(v) && v < batchId)
      }
      .foreach(st => fs.delete(st.getPath, true))
  }

  /** Wire a changelog stream into the versioned fold. Caller starts
    * the returned writer with a checkpoint dir. `extremes` /
    * `distinctCol` must match how the state was built: attach used to
    * hardcode the plain-aggregate fold, so attaching to state
    * maintained WITH extremes or a sketch silently committed a
    * narrowed version that dropped the min/max/kmv columns — the
    * maintained extremes were lost without error (review r18). */
  def attach(changelog: DataFrame, stateDir: String, keyCols: Seq[String],
             keepVersions: Int = 3, extremes: Boolean = false,
             distinctCol: Option[String] = None)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changelog.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        applyBatch(batch.sparkSession, stateDir, keyCols,
          keepVersions, extremes = extremes, distinctCol = distinctCol)(
          batch.toDF(), id)
    }
}
