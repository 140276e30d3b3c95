package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.config.Conf
import graft.state.Materialize.Policy

/** Config-drivable processors wrapping the engine's data-curation
  * operators (SURVEY.md §2 C36/C39), so a YAML pipeline can run the
  * LLM-data steps the same way the reference runs its uppercase transform
  * — declaratively, lazily, fused by Catalyst across the whole chain.
  *
  * All are pure `DataFrame => DataFrame` (no actions, no state), so they
  * compose in any order and work identically in batch and streaming
  * pipelines (dedup in streaming should use
  * [[graft.streaming.StreamOps.dedup]] to get watermark-bounded state).
  */

/** C36 exact dedup on configured columns (default: content hash of
  * `text`). `keep: first` semantics come from dropDuplicates.
  */
final class ExactDedupProcessor(params: Conf) extends Transform {
  private val cols: Seq[String] = params.strList("columns").getOrElse(Seq("content_hash"))
  def apply(df: DataFrame): DataFrame = {
    val withHash =
      if (cols == Seq("content_hash") && !df.columns.contains("content_hash"))
        df.withColumn("content_hash", md5(encode(col("text"), "UTF-8")))
      else df
    withHash.dropDuplicates(cols)
  }
}

/** C39 token statistics: appends `n_tokens` / `n_chars_computed` derived
  * from a configurable text column.
  */
final class TokenStatsProcessor(params: Conf) extends Transform {
  private val textCol = params.str("text_column", "text")
  // single-space split, NOT "\\s+": must agree with the gated text
  // queries (graft.ops.llm.TextStats) and their DuckDB string_split
  // oracles, or the pipeline and query surfaces disagree on n_tokens
  def apply(df: DataFrame): DataFrame =
    df.withColumn("n_tokens", size(split(col(textCol), " ")).cast("long"))
      .withColumn("n_chars_computed", length(col(textCol)).cast("long"))
}

/** Ingest-tier Unicode NFC normalization of a configurable text column —
  * the canonical-spelling pass that must run BEFORE any hash-based
  * processor ([[ExactDedupProcessor]], [[CdcChunkProcessor]]) so
  * precomposed and decomposed spellings of the same grapheme land on the
  * same bytes. Pure per-row projection (the native `graft_nfc`
  * expression), so it is streaming-legal and Catalyst-fused.
  */
final class NfcNormalizeProcessor(spark: org.apache.spark.sql.SparkSession,
                                  params: Conf) extends Transform {
  graft.functions.GraftFunctions.register(spark)
  private val textCol = params.str("text_column", "text")
  // call_function, not expr-string interpolation: a column name needing
  // quoting (spaces, dots, backticks) must resolve, not break the parser
  def apply(df: DataFrame): DataFrame =
    df.withColumn(textCol, call_function("graft_nfc", col(textCol)))
}

/** C36 content-defined chunking: explode each document into CDC chunk
  * rows via the pure-projection chunker — the pipeline form of
  * [[graft.ops.llm.Dedup.cdcChunkRows]]; follow with
  * `dedup_exact(columns=[h])` for chunk-level dedup, in batch or
  * streaming (a streaming `dropDuplicates` on `h` keeps one state row per
  * distinct chunk in the checkpoint, so dedup holds across restarts).
  *
  * Declared output schema (the pipeline-boundary contract — ADVICE r10:
  * the r10 byte-semantics change had widened it silently):
  *   - `doc_id`, `j` — document id and 1-based chunk ordinal;
  *   - `chunk` — the chunk BYTES reinterpreted as a string (CDC cuts on
  *     the UTF-8 byte stream, so a boundary may split a multi-byte
  *     character; the reinterpret is byte-preserving and total where a
  *     decode would throw or substitute);
  *   - `nb` — exact chunk width in BYTES (trustworthy even when `chunk`
  *     is not cleanly decodable);
  *   - `h` — md5 of the raw byte slice, the chunk's dedup identity;
  *   - `chunk_valid_utf8` — true iff `chunk` is well-formed UTF-8, i.e.
  *     the cut did NOT land mid-character and downstream consumers may
  *     treat `chunk` as text. Computed as the md5 round-trip
  *     `md5(encode(chunk)) = h`: re-encoding substitutes U+FFFD for any
  *     malformed sequence, so equality with the raw-byte hash proves
  *     well-formedness without carrying the byte slice itself.
  */
final class CdcChunkProcessor(params: Conf) extends Transform {
  private val textCol = params.str("text_column", "text")
  private val idCol   = params.str("id_column", "doc_id")
  def apply(df: DataFrame): DataFrame =
    graft.ops.llm.Dedup.cdcChunkRows(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .withColumn("chunk_valid_utf8",
        md5(encode(col("chunk"), "UTF-8")) === col("h"))
}

/** C39 quality filter: keep documents within configured token bounds. */
final class QualityFilterProcessor(params: Conf) extends Transform {
  private val textCol = params.str("text_column", "text")
  private val minTokens = params.int("min_tokens", min = 0).getOrElse(1)
  private val maxTokens = params.int("max_tokens", min = 0).getOrElse(Int.MaxValue)
  def apply(df: DataFrame): DataFrame = {
    val n = size(split(col(textCol), " ")) // same tokenization as TextStats
    df.filter(n >= minTokens && n <= maxTokens)
  }
}

/** Benchmark decontamination as a pipeline stage: drop documents whose
  * distinct 4-gram containment ratio against the benchmark set at
  * `benchmark_path` (a parquet of documents; its grams are extracted
  * with the SAME shingle expression) reaches `max_ppm` (default 100000 =
  * 10%). The exact gate-proven rule (`llm_contamination_ratio`), joined
  * back as a LEFT ANTI on the id column so arbitrary extra columns pass
  * through untouched. Batch-legal and foreachBatch-legal (the
  * [[graft.streaming.DecontamStream]] path); a bare streaming DF should
  * use that stream's ingest wrapper instead (the per-doc aggregate would
  * otherwise become unbounded cross-batch state).
  */
final class DecontaminateProcessor(params: Conf) extends Transform {
  private val benchPath = params.reqStr("benchmark_path")
  private val idCol   = params.str("id_column", "doc_id")
  private val textCol = params.str("text_column", "text")
  private val maxPpm  = params.long("max_ppm", min = 0).getOrElse(100000L)
  def apply(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val bench = graft.ops.llm.Dedup.shinglesFrom(
        spark.read.parquet(benchPath)
          .select(col(idCol).as("doc_id"), col(textCol).as("text")),
        4, distinct = true)
      .select(col("s")).distinct()
    val sh = graft.ops.llm.Dedup.shinglesFrom(
      df.select(col(idCol).as("doc_id"), col(textCol).as("text")),
      4, distinct = true)
    val flagged = graft.ops.llm.TextStats.contaminationRatioFrom(sh, bench)
      .where(col("ppm") >= maxPpm)
      .select(col("doc_id").as(idCol))
    df.join(flagged, Seq(idCol), "left_anti")
  }
}

/** T5-style span corruption as a pipeline stage: replaces the text
  * column with the corrupted INPUT and appends the sentinel-delimited
  * TARGET (`llm_span_corrupt`'s gate-proven transform). Batch-legal (the
  * splice needs a per-document window); run inside foreachBatch for
  * streaming tokenization jobs.
  */
final class SpanCorruptProcessor(params: Conf) extends Transform {
  private val idCol   = params.str("id_column", "doc_id")
  private val textCol = params.str("text_column", "text")
  def apply(df: DataFrame): DataFrame = {
    val texts = graft.ops.llm.TextStats.spanCorruptTextsFrom(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .select(col("doc_id").as(idCol),
              col("input_text"), col("target_text"), col("n_spans"))
    // LEFT join: a null-text row produces no corrupted output (posexplode
    // of split(null) yields nothing), and an inner join here silently
    // DROPPED such rows from the pipeline (round-8 advice). Null-text
    // rows now pass through with null input/target and n_spans = 0 —
    // visible to the next stage instead of vanishing.
    df.drop(textCol).join(texts, Seq(idCol), "left_outer")
      .withColumn("n_spans", coalesce(col("n_spans"), lit(0L)))
      .withColumnRenamed("input_text", textCol)
  }
}

/** C37 MinHash+LSH near-duplicate removal as a pipeline stage, with
  * PAIRWISE keep-smallest semantics: a document is dropped iff some
  * near-duplicate (word-3-gram Jaccard ≥ 0.6, found through the
  * gate-proven banded-LSH candidate join — bucketed, never all-pairs)
  * exists with a SMALLER id. This is deliberately NOT transitive-cluster
  * canonicalization: resolving clusters needs the iterative star
  * contraction ([[graft.ops.llm.Dedup.dedupClusters]]), whose
  * convergence loop runs driver-side actions — illegal inside a lazy
  * pipeline fold (the Processor contract). Pairwise keep-smallest is the
  * standard "keep the first occurrence of each detected duplicate pair"
  * rule; a chain a~b~c where (a,c) is NOT itself a near-dup pair keeps
  * only a under cluster semantics but drops b and c here too (each has a
  * smaller partner), so the two rules differ only on docs whose ONLY
  * smaller partners are indirect — run the cluster gate as a batch job
  * when that distinction matters. Batch/foreachBatch-legal (aggregates
  * inside); not for a bare streaming DF.
  *
  * PRECONDITION: ids must be UNIQUE. Rows sharing an id never form a
  * pair (the d1 < d2 candidate filter excludes equal ids, so same-id
  * exact copies would all survive), and different texts under one id
  * would have their shingles merged into a single MinHash signature,
  * skewing Jaccard for that id. The precondition is enforced LAZILY
  * (a per-id count stitched into the consumed plan raises at execution
  * time) because the Processor contract forbids driver-side actions in
  * the pipeline fold — the job fails loudly instead of no-op-deduping.
  * The census costs one extra id-only execution of the upstream plan
  * per run (near-free on columnar sources; see
  * [[IdGuards.uniqueGuarded]]); `assume_unique_ids: true` skips it for
  * corpora whose id uniqueness is already guaranteed upstream —
  * duplicate ids then silently mis-pair, the caller's contract.
  */
final class NearDedupProcessor(params: Conf) extends Transform {
  private val idCol   = params.str("id_column", "doc_id")
  private val textCol = params.str("text_column", "text")
  private val census  = !params.bool("assume_unique_ids").getOrElse(false)
  def apply(df: DataFrame): DataFrame = {
    IdGuards.requireIntegral(df, idCol, "near_dedup")
    // plain ANSI cast, deliberately NOT try_cast: under ANSI (the
    // Spark 4 default) an out-of-Long-range id throws CAST_OVERFLOW at
    // ANY evaluation of the key — including the isnotnull constraints
    // the optimizer infers from downstream joins — so the failure is
    // loud everywhere. try_cast was tried and is WORSE: its null key is
    // silently pruned by those same inferred not-null filters, pushed
    // below the guard projection, before the payload-riding raise can
    // fire (measured, self-review r12 pass 4). The guard's overflow
    // branch remains as defense-in-depth for non-ANSI sessions, where
    // cast nulls silently.
    val keyed = df.select(col(idCol).as("_raw_id"),
                          col(idCol).cast("long").as("doc_id"),
                          col(textCol).as("text"))
    val guarded = IdGuards.uniqueGuarded(keyed, "doc_id", "_raw_id", "text",
      idCol, "near_dedup",
      "same-id rows never pair under d1 < d2 keep-smallest and their " +
      "shingles would merge into one signature", census)
    // pairs come back (d1 < d2); every d2 has a smaller near-dup ⇒ drop
    val drop = graft.ops.llm.Dedup.nearDupPairsFrom(guarded)
      .select(col("d2").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }
}

/** Shared fail-fast/lazy guards for the id-keyed dedup/annotate
  * processors — one spelling of the two preconditions every pairing
  * operator has (near_dedup, sem_dedup, ann_topk).
  */
private[pipeline] object IdGuards {
  import org.apache.spark.sql.types._

  /** Fail FAST on a non-integral id column: cast("long") would turn
    * every id to null, pair candidate filters would drop everything,
    * and the processor would silently keep all duplicates (a no-op
    * dedup is worse than an error). String-keyed corpora should
    * pre-assign numeric ids (monotonically_increasing_id or a
    * select_expr stage) so id-ordered keep policies are well-defined.
    * Resolved through the ANALYZER (not a raw StructType lookup) so
    * case-mismatched configs keep working under the session's default
    * case-insensitive resolution, and a missing column still raises
    * the standard AnalysisException naming candidates. Any exact-
    * integer decimal(p,0) is accepted — a value beyond Long range
    * fails LOUDLY per-row instead (ANSI CAST_OVERFLOW at any key
    * evaluation, or [[uniqueGuarded]]'s overflow branch in non-ANSI
    * sessions), never a silent null-key no-op.
    */
  def requireIntegral(df: DataFrame, idCol: String, op: String): Unit = {
    val idType = df.select(col(idCol)).schema.head.dataType
    val integral = idType match {
      case ByteType | ShortType | IntegerType | LongType => true
      // any exact-integer decimal is accepted — including decimal(19,0),
      // the standard Oracle NUMBER(19)/JDBC key mapping whose values are
      // ordinarily plain longs (self-review r12 pass 4: a p<=18 cut
      // rejected those columns wholesale). The overflow hazard (a value
      // beyond Long range nulls under cast('long') and silently skips
      // the pair join) is caught LAZILY per-row instead: uniqueGuarded
      // raises on any non-null id whose long cast nulled.
      case d: DecimalType if d.scale == 0 => true
      case _ => false
    }
    require(integral,
      s"$op: id_column '$idCol' must be an integral type for " +
      s"id-keyed pair semantics, got ${idType.simpleString} — assign a " +
      "numeric id upstream (e.g. a select_expr stage)")
  }

  /** LAZY unique-id guard: a duplicate-id census over an ID-ONLY
    * projection, broadcast-joined back and stitched into the payload,
    * raises at EXECUTION time when any id repeats or is null — the
    * Processor contract forbids driver-side actions in the pipeline
    * fold, so the job fails loudly instead of silently mis-pairing.
    * `keyCol` is the already-cast long key column of `keyed`;
    * `idCol`/`op` name the user-facing config in the error.
    *
    * Two scale/severability properties, both load-bearing:
    *  - The census shuffles 8-byte id rows with map-side partial
    *    aggregation, NOT the payload: a count window keyed on the id
    *    (the first cut) shipped every text/embedding corpus-wide for a
    *    partitioning no downstream consumer reuses (self-review r12
    *    pass 3). The guilty-id set is empty in the healthy case, so the
    *    broadcast is ~free.
    *  - The raise is wrapped around the PAYLOAD column (`payloadCol` —
    *    the text/embedding the downstream operator actually consumes),
    *    not the key: a guard on the key alone is severable — Catalyst
    *    pushes payload-only predicates (e.g. the shingle builder's
    *    minimum-token filter) below the guard projection, discarding
    *    guilty rows before their key is evaluated and silently skipping
    *    the raise (pass 2). Substituted into ANY expression over the
    *    payload, the guard travels with it, and because the payload now
    *    references the join's `_guilty` output, no predicate can be
    *    pushed below the census join either.
    *
    * COST (documented trade, ADVICE r12): the census is a second
    * execution of the full upstream plan on every healthy run. The
    * id-only projection makes it nearly free on columnar sources
    * (parquet reads one column), but a non-columnar source or an
    * expensive upstream stage pays a full re-execution per guarded
    * processor. `census = false` (the processors' `assume_unique_ids`
    * opt-out, for corpora whose id uniqueness is already guaranteed —
    * e.g. a source primary key) skips the census join entirely while
    * KEEPING the per-row null/overflow raises; duplicate ids are then
    * the CALLER's contract and silently mis-pair, exactly the failure
    * the census exists to prevent.
    */
  def uniqueGuarded(keyed: DataFrame, keyCol: String, rawCol: String,
                    payloadCol: String,
                    idCol: String, op: String, why: String,
                    census: Boolean = true): DataFrame = {
    // any non-empty subset of the guilty set suffices to fail the job
    // (its rows raise wherever their payload is consumed), so LIMIT the
    // census before broadcasting: in the realistic guilty case — an
    // accidental self-union where every id repeats — an unbounded
    // guilty set would be ~half the corpus and the failure mode would
    // become a driver OOM/broadcast-limit error instead of the designed
    // raise naming a duplicate id (self-review r12 pass 4)
    // null check FIRST (a null key never matches the census join, so
    // it needs its own branch): a null id breaks id-keyed pair
    // semantics just as silently as a duplicate — it never pairs, so
    // its row always survives dedup. The Long-overflow branch covers
    // non-ANSI sessions where cast('long') nulls an out-of-range
    // decimal silently (under ANSI the cast itself throws
    // CAST_OVERFLOW at any key evaluation first).
    def nullOrOverflowRaise(orElse: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      when(col(rawCol).isNull,
        raise_error(lit(s"$op: id_column '$idCol' must not be null " +
          "(a null id never pairs, so its duplicates would silently " +
          "survive)")))
      .when(col(keyCol).isNull,
        raise_error(concat(
          lit(s"$op: id_column '$idCol' value exceeds Long range " +
            "(cast('long') nulls it, silently skipping the pair " +
            "join): "), col(rawCol).cast("string"))))
      .otherwise(orElse)
    // the null/overflow raise rides the KEY as well as the payload
    // (self-review r12 pass 5): a consuming plan that is pure SQL
    // (near_dedup's shingle pipeline) INFERS isnotnull(key) from its
    // join/inequality conditions and pushes it below the payload
    // projection — pruning the guilty row before its payload raise can
    // fire. With the raise substituted into the key's own definition,
    // evaluating that inferred filter IS the raise. Residual (by
    // design): a row pruned by a payload-only predicate before any key
    // evaluation — e.g. a null-id doc too short to shingle — escapes
    // both raises, but such a row cannot participate in pairing at all.
    val keyGuarded = keyed.withColumn(keyCol, nullOrOverflowRaise(col(keyCol)))
    if (!census)
      return keyGuarded
        .withColumn(payloadCol, nullOrOverflowRaise(col(payloadCol)))
        .drop(rawCol)
    val guilty = keyGuarded.select(col(keyCol))
      .groupBy(col(keyCol)).agg(count(lit(1)).as("_n"))
      .where(col("_n") > 1)
      .select(col(keyCol), lit(true).as("_guilty"))
      .limit(1000)
    keyGuarded
      .join(broadcast(guilty), Seq(keyCol), "left_outer")
      .withColumn(payloadCol,
        nullOrOverflowRaise(
          when(col("_guilty"),
            raise_error(concat(
              lit(s"$op: id_column '$idCol' must be unique ($why); " +
                "duplicate id: "), col(keyCol))))
          .otherwise(col(payloadCol))))
      .drop("_guilty", rawCol)
  }
}

/** Shared embedding ingestion for the pipeline's C37/C38 stages:
  * normalizes any `(id, embedding)` frame to the `(vec_id, v, nrm)`
  * corpus shape the gate-proven cores consume, with all three
  * preconditions enforced — integral unique ids (IdGuards) and the IVF
  * quantizer's dimensionality (a wrong-dimension vector would index past
  * the centroid array in the cell-assignment loop; guarded lazily with
  * raise_error, same posture as the id guards).
  */
private[pipeline] object EmbeddingStage {
  def corpusFrom(df: DataFrame, idCol: String, embCol: String,
                 op: String, census: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    IdGuards.requireIntegral(df, idCol, op)
    val dim = graft.ops.llm.Dedup.IvfDim
    // plain ANSI cast, NOT try_cast: see NearDedupProcessor — ANSI's
    // CAST_OVERFLOW fires at any key evaluation, while try_cast's null
    // is silently pruned by inferred not-null join filters
    val keyed = df.select(col(idCol).as("_raw_id"),
        col(idCol).cast("long").as("vec_id"),
        transform(col(embCol), x => x.cast("double")).as("v"))
    IdGuards.uniqueGuarded(keyed, "vec_id", "_raw_id", "v", idCol, op,
        "same-id rows never pair and the annotate window would merge " +
        "two rows' neighbor sets", census)
      .withColumn("v",
        // isNull must be checked explicitly: size(null) is null, and
        // null =!= dim is null — a null embedding would silently skip
        // the guard and flow a null row into the pair engine's
        // non-nullable decode (self-review r12). A null ELEMENT inside
        // a correctly-sized array is just as hostile: it would pass the
        // size check, fold into nrm as a skipped term, and die in the
        // Dataset decode with an error naming no id or column (pass 2).
        when(col("v").isNull || size(col("v")) =!= dim ||
             exists(col("v"), x => x.isNull),
          raise_error(concat(
            lit(s"$op: embedding_column '$embCol' must be a $dim-" +
              "dimensional array with no null elements (the IVF " +
              "quantizer's contract); got dim "),
            coalesce(size(col("v")).cast("string"), lit("null")),
            lit(" for id "), col("vec_id").cast("string"))))
        .otherwise(col("v")))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      // the norm guard closes the remaining silent-no-op class (ADVICE
      // r12): an ALL-ZERO embedding (nrm = 0) yields NaN cosines and
      // never pairs — exact zero-vector duplicates would all survive
      // sem_dedup and get empty ann_topk arrays; NaN/Inf ELEMENTS pass
      // the null-element check above but poison nrm to NaN/Inf, with
      // the same silent outcome (sim = NaN never >= thr; finite/Inf =
      // 0). nrm must be a POSITIVE FINITE double; NaN needs its OWN
      // isnan branch because Spark SQL (like DuckDB) orders NaN
      // GREATER than every other double — `NaN > 0` is TRUE under SQL
      // semantics, not false as in IEEE/JVM, so `!(nrm > 0)` alone
      // would silently pass a NaN norm. The raise rides nrm, which
      // every pair-engine path decodes unconditionally (typed Dataset
      // select of (vec_id, v, nrm)), so it cannot be severed by
      // predicate pushdown.
      .withColumn("nrm",
        when(isnan(col("nrm")) || !(col("nrm") > 0.0) ||
             col("nrm") === Double.PositiveInfinity,
          raise_error(concat(
            lit(s"$op: embedding_column '$embCol' must have a positive " +
              "finite L2 norm (an all-zero or non-finite embedding " +
              "yields NaN/zero cosines and silently never pairs); " +
              "got nrm "),
            col("nrm").cast("string"),
            lit(" for id "), col("vec_id").cast("string"))))
        .otherwise(col("nrm")))
  }
}

/** C37/C38 SemDeDup-style SEMANTIC deduplication as a pipeline stage
  * (Abbas et al. 2023), with PAIRWISE keep semantics: for every same-cell
  * embedding pair with cosine ≥ threshold (found through the gate-proven
  * IVF cell-shuffle pair engine — bucketed, never all-pairs), the member
  * MORE similar to its own cell centroid is dropped — the paper's
  * keep-least-redundant policy applied per pair, ties to the higher id.
  * Like [[NearDedupProcessor]], this is deliberately NOT
  * transitive-cluster canonicalization: resolving clusters needs the
  * iterative star contraction whose convergence loop runs driver-side
  * actions — illegal inside a lazy pipeline fold (the Processor
  * contract). The two rules agree everywhere except docs whose only
  * "better" partners are indirect (see cluster-posture.md); run the
  * `llm_semdedup` gate as a batch job when cluster-exact reps matter.
  * The keep QUANTITY (cos to own-cell centroid — the pair engine's
  * `withCentroidCos` emission, bit-equal to the gate's `centroidCosCol`
  * spelling) and the pair engine are the gate's own cores, so the two
  * surfaces cannot diverge. Batch/foreachBatch-legal; not for a bare
  * streaming DF.
  *
  * `nprobe` (default 1, max = the corpus-resolved quantizer cell count) widens
  * candidate generation to each vector's top-nprobe quantizer cells via
  * the directed multi-probe engine
  * ([[graft.ops.llm.Dedup.embeddingProbeEdges]]) — the recall fix for
  * near-dup pairs straddling a cell boundary, at nprobe× shuffle cost.
  * The drop policy is unchanged (it is direction-symmetric, so the
  * directed edge set needs no normalization).
  *
  * PRECONDITIONS (enforced by [[EmbeddingStage]]): unique integral ids;
  * embeddings of the quantizer's dimension. The guards are LAZY and ride
  * the columns this stage itself consumes, so they always fire here (the
  * anti-join evaluates every embedding).
  */
final class SemDedupProcessor(params: Conf) extends Transform {
  private val idCol  = params.str("id_column", "vec_id")
  private val embCol = params.str("embedding_column", "embedding")
  private val thr    = params.double("threshold", -1.0, 1.0).getOrElse(0.45)
  private val nprobe = params.int("nprobe", min = 1).getOrElse(1)
  private val census = !params.bool("assume_unique_ids").getOrElse(false)
  def apply(df: DataFrame): DataFrame = {
    val corpus = EmbeddingStage.corpusFrom(df, idCol, embCol, "sem_dedup", census)
    // ONE pair-engine execution: the engine emits each member's
    // centroid-cos (ci/cj — bit-equal to the gate's SQL spelling)
    // alongside the pair, so no lazy re-join back to a cos_c annotation
    // is needed (a DAG that re-references the pair frame re-executes
    // the O(n²/K) verify reduce per reference — self-review r12).
    // nprobe >= 2 swaps in the directed probe engine: a pair seen from
    // both directions carries bit-identical (cos, cq, cn) — the own-cell
    // centroid cos recompute is input-identical in every group — and the
    // keep policy below is direction-symmetric, so the duplicate edge
    // yields the same dropped id and the distinct() collapses it
    val pairs = if (nprobe >= 2)
      graft.ops.llm.Dedup
        .embeddingProbeEdges(corpus, thr, nprobe, withCentroidCos = true)
        .toDF("i", "j", "cos_sim", "ci", "cj")
    else graft.ops.llm.Dedup
      .embeddingPairs(corpus, thr, sameCellOnly = true, withCentroidCos = true)
    // drop the pair member whose (cos_c, id) sorts HIGHER — keep the
    // least-centroid-similar, ties to the lowest id (the gate's window
    // order exactly)
    val drop = pairs.select(
        when(struct(col("ci"), col("i")) < struct(col("cj"), col("j")),
          col("j")).otherwise(col("i")).as(idCol))
      .distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }
}

/** C37/C38 CLUSTER-EXACT SemDeDup as a BATCH-ONLY pipeline stage
  * (VERDICT r12 #5): resolves the semantic-duplicate graph into
  * connected components via the gate-proven iterative star contraction
  * ([[graft.ops.llm.Dedup.starComponents]] — the `llm_semdedup` gate's
  * machinery, shared through [[graft.ops.llm.Dedup.semDedupMembers]])
  * and keeps ONE representative per cluster: the member least similar
  * to its own cell centroid, ties to the lowest id (Abbas et al. 2023).
  * Unconnected vectors always survive.
  *
  * This differs from [[SemDedupProcessor]] exactly on INDIRECT
  * partners: a chain a~b~c where (a, c) is not itself a pair keeps one
  * representative here but can keep BOTH endpoints under the pairwise
  * rule (each pair only eliminates its own loser). Use `sem_dedup` when
  * streaming-shaped laziness matters; use this when cluster-exact reps
  * do.
  *
  * BATCH ONLY — enforced fail-fast on `df.isStreaming`: the star
  * contraction's convergence loop runs DRIVER-SIDE ACTIONS (edge counts
  * per round), which are illegal on an unbounded frame and break the
  * lazy single-plan fold the streaming Processor contract promises. In
  * a streaming job, run this inside a `foreach_batch` sink (each
  * micro-batch is a bounded frame) or keep the pairwise `sem_dedup`.
  * In a batch pipeline the extra eagerness is the documented price of
  * transitive resolution (cluster-posture.md).
  *
  * `nprobe` widens candidate pair generation across cell boundaries
  * (directed probe edges, normalized to undirected before
  * contraction); `assume_unique_ids` skips the duplicate-id census
  * (see [[IdGuards.uniqueGuarded]]).
  *
  * SINGLE-IN-FLIGHT-OUTPUT CONTRACT (ADVICE r14, ENFORCED r16): each
  * output carries an observation, and `apply()` releases a prior
  * invocation's internal drop-set pin only once that output's
  * consumption is OBSERVED — so the contract's canonical violation
  * (building two outputs from one instance before consuming either)
  * now yields correct results for both, with a WARN log line,
  * instead of missing-block / FileNotFound errors. The residual stays
  * bounded: only the newest unconsumed generation is retained (older
  * ones are released loudly — consuming them after that fails), so a
  * crash-looping caller cannot grow pins without bound. A
  * foreach_batch sink satisfies the contract by construction
  * (micro-batches are strictly sequential per query) and holds exactly
  * one batch's drop-set residual. Still prefer one processor instance
  * per in-flight output.
  *
  * PRECONDITIONS (enforced by [[EmbeddingStage]]): unique integral ids;
  * embeddings of the quantizer's dimension with positive finite norm.
  */
final class SemDedupClustersProcessor(params: Conf) extends Transform {
  private val idCol  = params.str("id_column", "vec_id")
  private val embCol = params.str("embedding_column", "embedding")
  private val thr    = params.double("threshold", -1.0, 1.0).getOrElse(0.45)
  private val nprobe = params.int("nprobe", min = 1).getOrElse(1)
  private val census = !params.bool("assume_unique_ids").getOrElse(false)
  /** Ledger of prior invocations' outputs whose drop-set pins are still
    * held, newest first. Each output carries an [[Observation]] (a
    * CollectMetrics node stitched into the returned anti-join), so this
    * invocation can SEE whether the previous output was materialized
    * instead of assuming it (ADVICE r14 / VERDICT r15 #2 — the
    * documented single-in-flight contract was unenforced, and a caller
    * building two outputs from one instance before consuming the first
    * died with missing-block/FileNotFound deep in Spark):
    *
    *   - a CONSUMED output's drop pin is released here — the contract's
    *     happy path; a foreach_batch loop holds exactly one batch's
    *     drop-set residual, as before (VERDICT r13 #3, proven by
    *     ReliableFaultSpec's bounded-file-count case);
    *   - an UNCONSUMED output keeps its pin, so the in-flight output
    *     stays VALID — the build-two-then-consume-both case now yields
    *     correct results (with a WARN line naming the contract)
    *     instead of a checkpoint crash. Scope of that claim (ADVICE
    *     r16): "consumed" means ANY completed action over the output —
    *     a partial action (e.g. `out.limit(1).count()`) completes the
    *     Observation, so the next apply() releases the drop pin and a
    *     LATER full materialization of that output dies with missing
    *     blocks; the guarantee is full-consumption-then-apply ordering,
    *     not arbitrary re-reads;
    *   - only the NEWEST unconsumed generation is retained: anything
    *     older is released with a loud warning (its output dies if
    *     consumed later), so an abandoned-failed-batch crash loop
    *     cannot grow pins without bound — the residual is ≤ 2 drop
    *     pins (one consumed-pending + one retained unconsumed).
    *
    * Known bounded residual: an Observation whose output is NEVER
    * consumed leaves its (tiny) QueryExecutionListener registered for
    * the session's lifetime — Spark only auto-unregisters on first
    * fire and exposes no public unregister. Pins (the expensive part)
    * are capped as above; the listener residual is per-VIOLATION, not
    * per-batch, on a contract-compliant caller.
    */
  private var inFlight: List[(org.apache.spark.sql.Observation, () => Unit)] =
    Nil

  /** Release consumed generations' pins; retain (at most) the newest
    * unconsumed one. Observation metrics arrive via the async listener
    * bus, so a short bounded poll absorbs the lag between the caller's
    * action completing and the metric landing — without it the
    * compliant sequential path could spuriously defer a release by one
    * invocation (and flake ReliableFaultSpec's exact-file-count law).
    *
    * The poll runs INSIDE apply() and is ≤ 3 s of driver sleep, paid
    * only on the violation path — and only ONCE per unconsumed output
    * (ADVICE r16): an entry already seen unconsumed by a prior resolve
    * is re-probed non-blockingly, because the lag the poll absorbs can
    * only exist on the first resolve after a consuming action; without
    * the memo an abandoned-failed-batch crash loop would pay a fixed
    * 3 s stall on every subsequent micro-batch retry.
    */
  private var seenUnconsumed: Set[String] = Set.empty
  private def resolveInFlight(): Unit = {
    if (inFlight.isEmpty) return
    val deadline = System.nanoTime() + 3000L * 1000000L
    def consumed(e: (org.apache.spark.sql.Observation, () => Unit)): Boolean = {
      // future.isCompleted is the non-blocking public probe (get/getOrEmpty
      // block-or-are-private[sql]); poll it to absorb listener-bus lag
      var got = e._1.future.isCompleted
      while (!got && !seenUnconsumed.contains(e._1.name)
             && System.nanoTime() < deadline) {
        Thread.sleep(50)
        got = e._1.future.isCompleted
      }
      got
    }
    val (done, open) = inFlight.partition(consumed)
    done.foreach(_._2())
    seenUnconsumed = open.map(_._1.name).toSet
    inFlight = open match {
      case Nil => Nil
      case newest :: older =>
        SemDedupClustersProcessor.log.warn(
          s"[sem_dedup_clusters] ${open.size} prior output(s) were never " +
          "materialized before this apply() — the SINGLE-IN-FLIGHT-OUTPUT " +
          "contract (consume each output before applying the same " +
          "instance again) was violated, or a failed batch was " +
          "abandoned. Retaining the newest unconsumed output's drop-set " +
          s"pin so it stays valid; releasing ${older.size} older one(s) — " +
          "consuming THOSE outputs now fails with missing blocks. Use " +
          "one processor instance per in-flight output.")
        older.foreach(_._2())
        List(newest)
    }
  }

  def apply(df: DataFrame): DataFrame = synchronized {
    require(!df.isStreaming,
      "sem_dedup_clusters is BATCH-ONLY: the star contraction's " +
      "convergence loop runs driver-side actions, illegal on an " +
      "unbounded frame — run it inside a foreach_batch sink, or use " +
      "the pairwise sem_dedup processor for streaming pipelines")
    resolveInFlight()
    // pin the guarded corpus ONCE: this processor is already eager
    // (starComponents runs driver actions), and both the pair frame and
    // the semDedupMembers join consume the corpus — unpinned, each
    // consumer re-executes the full upstream plan AND its duplicate-id
    // census (itself a second upstream scan), ~4 upstream executions
    // for one stage (self-review r13 pass 3). Pinning also fires the
    // lazy guards here, which for a batch-only stage is strictly better
    // (loud at the stage, not at the sink). The corpus-sized pin is
    // RELEASED in the finally (pass 5) — inside a
    // foreach_batch sink this stage runs once per micro-batch, and an
    // unreleased pin per batch (or per failed retry) accumulates in
    // executor storage / reliable checkpoint files; the release walks
    // this pin's own lineage only, so concurrent session pins are
    // untouched. Every other per-invocation pin is released too (round
    // 14, VERDICT r13 #3): the contraction's internal round pins as
    // they are superseded (inside starComponents), the component-label
    // pin right after the eager drop pin materializes (its last
    // consumer), and the drop pin itself at the NEXT invocation
    // (prevDropRelease) — so a foreach_batch loop under
    // materialize=reliable holds at most ONE batch's duplicate-volume
    // residual in checkpoint files, proven by ReliableFaultSpec's
    // bounded-file-count case. cleanCheckpoints=true remains
    // defense-in-depth, no longer a required mitigation.
    val corpus = graft.state.Materialize.pin(EmbeddingStage.corpusFrom(
      df, idCol, embCol, "sem_dedup_clusters", census), Policy.Always)
    try {
      // undirected pair frame for the contraction: probe edges are
      // directed (q probed n's cell; the reverse edge may not exist), so
      // normalize to (least, greatest) — distinct() collapses the
      // both-direction same-cell pairs
      val pairs = if (nprobe >= 2)
        graft.ops.llm.Dedup.embeddingProbeEdges(corpus, thr, nprobe)
          .select(least(col("q_id"), col("n_id")).as("d1"),
                  greatest(col("q_id"), col("n_id")).as("d2"))
          .distinct()
      else graft.ops.llm.Dedup
        .embeddingPairs(corpus, thr, sameCellOnly = true)
        .select(col("i").as("d1"), col("j").as("d2"))
      // the (tiny) drop set pins eagerly BEFORE the corpus release: its
      // blocks are lineage-truncated and self-contained, so the final
      // anti-join consumes only the drop pin and the raw input
      val (members, releaseLabels) =
        graft.ops.llm.Dedup.semDedupMembersScoped(corpus, pairs)
      val drop = graft.state.Materialize.pin(members.where(col("rn") > 1)
        .select(col("vec_id").as(idCol)), Policy.Always)
      // the drop pin (eager) was the labels pin's last consumer — free
      // the labels now; the drop pin itself is freed at a LATER
      // invocation once this output's consumption is OBSERVED (see
      // inFlight). The observation's CollectMetrics node rides the
      // returned anti-join — semantically inert, and fires on the first
      // action the caller runs over any plan containing this output.
      releaseLabels()
      val obs = new org.apache.spark.sql.Observation(
        s"graft_semdedup_inflight_${SemDedupClustersProcessor.nextGen()}")
      inFlight = (obs, () => graft.state.Materialize.releasePinned(drop)) :: inFlight
      df.join(drop, Seq(idCol), "left_anti")
        .observe(obs, count(lit(1)).as("rows"))
    } finally graft.state.Materialize.releasePinned(corpus)
  }
}

object SemDedupClustersProcessor {
  /** JVM-global generation counter: Observation names must be unique
    * among concurrently-active queries, and two processor INSTANCES on
    * one session would collide on a per-instance counter.
    */
  private val gen = new java.util.concurrent.atomic.AtomicLong(0L)
  private[pipeline] def nextGen(): Long = gen.incrementAndGet()

  private val log = graft.util.Log.logger("pipeline.SemDedupClustersProcessor")
}

/** C38 ANN annotate-top-k as a pipeline stage: appends to every row its
  * k most-similar OTHER rows within its probed IVF cells, as a
  * deterministic rk-sorted `array<struct<rk, n_id, sim>>` (the
  * [[graft.ops.llm.Similarity.annTopKWithin]] core — same cell-shuffle
  * candidate engine as the dedup gates). Rows with no in-scope neighbor
  * ≥ threshold get an EMPTY array, not null — visible to the next
  * stage. Batch/foreachBatch-legal (window + aggregate inside).
  *
  * `nprobe` (default 1, max = the corpus-resolved quantizer cell count) sets the
  * probe breadth: 1 searches only each row's own cell (the single-probe
  * IVF floor — a cross-cell neighbor is missed); `nprobe >= 2` widens
  * each row's query to its top-nprobe cells by centroid dot — the
  * `llm_ann_annotate_mp` gate's engine, the standard recall/cost knob
  * (candidates scale ≈ nprobe×).
  *
  * Measured recall@5 LADDER through THIS processor on the fixture
  * corpus vs the cell-unrestricted brute force (VERDICT r13 #5,
  * spec-asserted each run by CurationProcessorsSpec's ladder case):
  * {{{
  *   nprobe = 1   recall@5 0.354   (the silent YAML default)
  *   nprobe = 2   recall@5 0.640   (~2x candidates)
  *   nprobe = 4   recall@5 1.000   (= the resolved K: exhaustive, self-check)
  * }}}
  * The absolute numbers are fixture-specific (K = 4 coarse cells —
  * production K is far larger and per-probe recall correspondingly
  * higher), but the SHAPE is the decision evidence: recall is strictly
  * monotone in breadth at ≈ nprobe× candidate cost, so a YAML user who
  * needs better than the single-probe floor should step nprobe up, not
  * switch engines.
  *
  * PRECONDITIONS (enforced by [[EmbeddingStage]]): unique integral ids;
  * embeddings of the quantizer's dimension. The guards are LAZY — they
  * are stitched into the joined-in `output_column` and fire when that
  * column is CONSUMED. A downstream plan that never references
  * `output_column` lets Catalyst eliminate the annotation join (its
  * aggregated keys are provably unique), and no precondition is checked
  * for the rows it would have covered — the loud-failure contract is
  * "on consumption of the annotation", not "on any use of the stage's
  * output" (ADVICE r12).
  */
final class AnnTopKProcessor(params: Conf) extends Transform {
  private val idCol  = params.str("id_column", "vec_id")
  private val embCol = params.str("embedding_column", "embedding")
  private val outCol = params.str("output_column", "ann_topk")
  private val k      = params.int("k", min = 1).getOrElse(5)
  // default = NO similarity floor (−∞, the llm_ann_annotate_mp gate's
  // spelling): all candidates rank. A −1.0 default is NOT equivalent —
  // IEEE rounding can place a near-antipodal cosine one ulp below −1.0,
  // which `cos >= -1.0` silently drops while the gate ranks it
  // (self-review r13 pass 2); user-supplied floors stay bounded [−1, 1]
  private val thr =
    params.double("threshold", -1.0, 1.0).getOrElse(Double.NegativeInfinity)
  private val nprobe = params.int("nprobe", min = 1).getOrElse(1)
  private val census = !params.bool("assume_unique_ids").getOrElse(false)
  def apply(df: DataFrame): DataFrame = {
    require(!df.columns.exists(_.equalsIgnoreCase(outCol)),
      s"ann_topk: output_column '$outCol' already exists in the input — " +
      "pick another name (silent overwrite would hide the input column)")
    val corpus = EmbeddingStage.corpusFrom(df, idCol, embCol, "ann_topk", census)
    val topk = graft.ops.llm.Similarity.annTopKWithin(corpus, k, thr, nprobe)
    df.join(topk.select(col("vec_id").as(idCol), col("topk").as(outCol)),
        Seq(idCol), "left_outer")
      .withColumn(outCol, coalesce(col(outCol),
        array().cast("array<struct<rk:bigint,n_id:bigint,sim:double>>")))
  }
}

/** C39 PII scrubbing as a pipeline stage: redact emails and phone-shaped
  * tokens in the text column (the gate-proven patterns of
  * `llm_pii_scrub`) and append `n_pii_redacted` so downstream stages can
  * census or quarantine. Pure per-row projection — streaming-legal,
  * scan-rate at 100 TB.
  */
final class PiiScrubProcessor(params: Conf) extends Transform {
  private val textCol = params.str("text_column", "text")
  def apply(df: DataFrame): DataFrame = {
    val email = graft.ops.llm.TextStats.PiiEmailPattern
    val phone = graft.ops.llm.TextStats.PiiPhonePattern
    // the phone census runs on the EMAIL-REDACTED text, mirroring the
    // sequential replacements below, so n_pii_redacted equals the
    // redactions actually applied even when the two patterns overlap
    // in the raw text (an email consuming digits a phone match wanted)
    val afterEmail = regexp_replace(col(textCol), email, "<EMAIL>")
    df.withColumn("n_pii_redacted",
        (size(regexp_extract_all(col(textCol), lit(email), lit(0)))
          + size(regexp_extract_all(afterEmail, lit(phone), lit(0))))
          .cast("long"))
      .withColumn(textCol, regexp_replace(afterEmail, phone, "<PHONE>"))
  }
}

/** C39 language identification as a pipeline stage: append
  * `predicted_lang` via the gate-proven profile argmax
  * ([[graft.ops.llm.TextStats.langPredictionsFrom]] — `und` when no
  * profile word hits), optionally filtering to a configured keep-list.
  * The prediction needs a per-doc aggregate + argmax window —
  * batch/foreachBatch-legal.
  */
final class LangIdProcessor(params: Conf) extends Transform {
  private val idCol   = params.str("id_column", "doc_id")
  private val textCol = params.str("text_column", "text")
  private val keep    = params.strList("keep").map(_.toSet)
  def apply(df: DataFrame): DataFrame = {
    // reserved internal name: joining "plang" directly is ambiguous the
    // moment the input carries its own plang column (a prior labeler)
    val pred = graft.ops.llm.TextStats.langPredictionsFrom(
        df.select(col(idCol).as("doc_id"), col(textCol).as("text")))
      .select(col("doc_id").as(idCol), col("plang").as("__graft_plang"))
    val tagged = df.join(pred, Seq(idCol), "left_outer")
      .withColumn("predicted_lang",
        coalesce(col("__graft_plang"), lit("und")))
      .drop("__graft_plang")
    keep.fold(tagged)(ks => tagged.where(col("predicted_lang").isin(ks.toSeq: _*)))
  }
}

/** C39 additive quality scoring as a pipeline stage: append the
  * gate-proven 0–4 score (`llm_quality_score`'s features, recomputing
  * `n_chars` as `length(text)` since a pipeline input has no fixture
  * column), optionally dropping documents under `min_score`. Appends /
  * overwrites `n_tokens`, `n_distinct`, `stop_cnt`, `score`. Pure map —
  * streaming-legal.
  */
final class QualityScoreProcessor(params: Conf) extends Transform {
  private val textCol  = params.str("text_column", "text")
  private val minScore = params.int("min_score", min = 0)
  def apply(df: DataFrame): DataFrame = {
    val scored = graft.ops.llm.TextStats.withQualityScore(
      df, col(textCol), length(col(textCol)).cast("long"))
    minScore.fold(scored)(m => scored.where(col("score") >= m))
  }
}

/** C39 Gopher-rule filtering as a pipeline stage: the gate-proven hard
  * rules (`llm_gopher_rules` — word-count band, mean word length band,
  * alphabetic-word fraction, stopword evidence). `mode: annotate`
  * appends the per-rule booleans + `passes`; `mode: filter` (default)
  * keeps passing rows and drops the working columns. Pure map —
  * streaming-legal, scan-rate at 100 TB.
  */
final class GopherFilterProcessor(params: Conf) extends Transform {
  private val textCol = params.str("text_column", "text")
  private val mode    = params.str("mode", "filter")
  if (!Set("filter", "annotate")(mode))
    throw new IllegalArgumentException(
      s"unknown mode '$mode' (supported: filter, annotate)")
  def apply(df: DataFrame): DataFrame =
    // filter mode is a pure row predicate built WITHOUT materializing
    // the working columns, so input columns colliding with the rule
    // names (stop_cnt from a quality_score stage, a user's n_words)
    // survive untouched; annotate mode deliberately writes/overwrites
    // the rule names — that is its contract
    if (mode == "annotate")
      graft.ops.llm.TextStats.withGopherFlags(df, col(textCol))
    else df.where(graft.ops.llm.TextStats.gopherPasses(col(textCol)))
}

