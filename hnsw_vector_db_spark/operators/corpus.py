"""Training-corpus preparation operators — the pipeline stages a
large-scale LLM-data build needs between "raw documents" and "training
shards": chunking, sequence packing, PII redaction, weighted stratified
sampling, and deterministic shard shuffling.

All five are pure DataFrame expression code (whole-stage codegen, no
Python in the hot path) with engine-portable semantics so each has a
DuckDB oracle twin. Determinism comes from the same polynomial hash used
by the dedup family (functions/text.py poly_hash), never from rand().

Scale notes (100 TB):
- ``chunk_documents`` is a narrow transformation — zero shuffle; output
  size ~= input size * (1 + overlap/stride).
- ``pack_sequences`` windows per *shard*, not globally — the global-order
  variant would funnel the corpus through one partition; the per-shard
  variant is embarrassingly parallel and is how real packers run.
- ``stratified_sample`` joins the (tiny) weights dim — AQE-broadcast at
  runtime, never hint-forced — and filters on a
  hash inequality — predicate evaluated at scan, no shuffle, no count().
- ``shard_shuffle`` is one hash-partitioned window — the standard
  "deterministic global shuffle" for training-data ordering: within-shard
  order is hash-random, shard assignment is hash-uniform, and the whole
  thing is reproducible from the salt alone.

The reference engine has no corpus tooling (it stores vectors only —
/root/reference/core/store.py); these operators are the prompt-mandated
training-pipeline extensions around it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hnsw_vector_db_spark.functions.distance import lit_double_array
from hnsw_vector_db_spark.functions.text import poly_hash, tokens

# Denominator for hash-based sampling decisions: pmod(hash, GRAIN)/GRAIN
# approximates Uniform[0,1) with 1e-4 resolution, exactly reproducible in
# any engine with 64-bit integer arithmetic.
SAMPLE_GRAIN = 10_000


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 400,
    overlap: int = 50,
) -> DataFrame:
    """Split each document into fixed-width character chunks with overlap.

    Chunk i covers ``[i*stride, i*stride + chunk_chars)`` (0-based) where
    ``stride = chunk_chars - overlap``; chunks are emitted while their
    start is inside the text, so every character lands in >=1 chunk and
    consecutive chunks share ``overlap`` characters. The last chunk is
    short rather than padded.

    Narrow transformation: explode(sequence(...)) + substring — no
    shuffle, stays in whole-stage codegen. At 100 TB this is a pure map
    stage whose output feeds pack_sequences.

    DuckDB twin: unnest(generate_series(0, (len-1)//stride)) + substr.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be < chunk_chars")
    stride = chunk_chars - overlap
    n_last = F.floor((F.length(text_col) - 1) / stride).cast("int")
    out = docs.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.greatest(n_last, F.lit(0)))).alias("chunk_id"),
        F.col(text_col),
    )
    chunk_text = F.substring(
        F.col(text_col), F.col("chunk_id") * stride + 1, chunk_chars
    )
    return out.select(
        id_col,
        "chunk_id",
        chunk_text.alias("chunk_text"),
        F.length(chunk_text).alias("chunk_len"),
    )


def pack_sequences(
    chunks: DataFrame,
    id_col: str = "doc_id",
    order_col: str = "chunk_id",
    text_col: str = "chunk_text",
    budget_tokens: int = 128,
    n_shards: int = 8,
) -> DataFrame:
    """Pack a chunk stream into fixed token-budget training sequences.

    Span-packing semantics: within a shard, chunks are laid end-to-end in
    (doc_id, chunk_id) order and the token stream is cut into contiguous
    ``budget_tokens``-sized spans; a chunk belongs to the span containing
    its first token. Deterministic, order-stable, and exactly expressible
    as one cumulative-sum window in any engine — unlike first-fit bin
    packing, which needs sequential state. A span can overflow by at most
    one chunk (the standard "document packing" trade-off; real packers
    truncate or pad at the boundary).

    Shard = doc_id mod n_shards, so the window is PARTITIONED — each shard
    packs independently in parallel. At 1000 executors you'd set n_shards
    to O(output files); the plan is one hash shuffle on shard, then a
    sorted window per partition.

    Returns one row per (shard, seq_id): n_chunks, n_docs, total_tokens.

    DuckDB twin: sum(...) over (partition by shard order by doc, chunk
    rows unbounded preceding) with the same floor((cum-tok)/budget).
    """
    tok = F.size(tokens(text_col))
    shard = (F.col(id_col) % n_shards).cast("int")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(id_col, order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    staged = chunks.select(
        F.col(id_col), F.col(order_col), shard.alias("shard"), tok.alias("n_tok")
    )
    cum = F.sum("n_tok").over(w)
    seq = staged.select(
        "shard",
        id_col,
        "n_tok",
        F.floor((cum - F.col("n_tok")) / budget_tokens).cast("long").alias("seq_id"),
    )
    return seq.groupBy("shard", "seq_id").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct(id_col).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )


# Engine-portable PII patterns: plain character classes only — identical
# semantics under Java regex (Spark) and RE2 (DuckDB). No lookaround, no
# backrefs, no possessive quantifiers.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_redact(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Redact emails, IPv4 addresses, and +CC-ddd-ddd-dddd phone numbers,
    reporting per-document hit counts.

    Three chained regexp_replace calls (email first, so an IP-looking
    hostname inside an email is consumed by <EMAIL> before the IP pass —
    the order is part of the contract) plus regexp_extract_all counts on
    the ORIGINAL text. All codegen'd JVM regex — a pure map stage; the
    regex set is the extension point for a production PII pass.

    DuckDB twin: regexp_replace(..., 'g') and len(regexp_extract_all).
    """
    t = F.col(text_col)
    n_email = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0)))
    n_ip = F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0)))
    n_phone = F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0)))
    clean = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(clean, IPV4_RE, "<IP>")
    clean = F.regexp_replace(clean, PHONE_RE, "<PHONE>")
    return docs.select(
        id_col,
        clean.alias("clean_text"),
        n_email.alias("n_emails"),
        n_ip.alias("n_ips"),
        n_phone.alias("n_phones"),
    )


def _sample_u(key: Column) -> Column:
    """Deterministic Uniform{0..GRAIN-1} from a string key."""
    return F.pmod(poly_hash(key), F.lit(SAMPLE_GRAIN))


def stratified_sample(
    docs: DataFrame,
    weights: DataFrame,
    strata_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "strat1",
) -> DataFrame:
    """Deterministic weighted sampling per stratum (domain mixing).

    ``weights`` is a tiny dim table (strata_col, frac in [0,1]) — e.g. the
    per-source mixing proportions of a training recipe. A row survives iff
    hash(id || '#' || salt) mod GRAIN < frac*GRAIN, so:
      - membership is a pure function of (id, salt): append-stable, a
        re-run on grown data keeps every previously sampled row;
      - raising a source's frac only ADDS documents (nested samples);
      - no rand(), no count(), no per-stratum pass.

    The weights join carries NO broadcast hint: a recipe keyed by
    language is dozens of rows, but the same operator keyed by
    url-host is millions, and a hint would force that to every
    executor (the tfidf lesson — flagged by plans/lint.py's
    hinted-broadcast-agg rule when weights is derived from a groupBy,
    e.g. temperature_mix). AQE broadcasts the measured-small recipe at
    runtime, so the common case still filters at the scan with zero
    corpus shuffle. Strata with no weight row are dropped (inner
    join), matching "sources not in the recipe are excluded".
    """
    u = _sample_u(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt)))
    return (
        docs.join(weights, on=strata_col, how="inner")
        .filter(u < F.col("frac") * SAMPLE_GRAIN)
        .drop("frac")
    )


def shard_shuffle(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = 8,
    salt: str = "shuffle1",
) -> DataFrame:
    """Deterministic global shuffle into training shards.

    shard = hash(id||salt) mod n_shards; pos = rank of hash within the
    shard (id tiebreak). Reading shards 0..n-1 each in pos order yields a
    reproducible pseudo-random permutation of the corpus — the standard
    way to randomize training order without rand() or a global sort.

    One hash-partitioned window (shuffle on shard only). Changing the salt
    re-deals the permutation; changing n_shards only re-buckets it.
    """
    from pyspark.sql.window import Window

    h = poly_hash(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt)))
    staged = docs.select(
        F.col(id_col),
        h.alias("h"),
        F.pmod(h, F.lit(n_shards)).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return staged.select(
        id_col, "shard", (F.row_number().over(w) - 1).alias("pos")
    )


def temperature_weights(
    docs: DataFrame, strata_col: str = "source", tau: float = 2.0
) -> DataFrame:
    """Temperature-balanced mixing weights — the multilingual-training
    recipe (sample stratum s with probability proportional to
    ``n_s^(1/tau)``), realized as per-stratum keep fractions with the
    SMALLEST stratum kept whole and larger ones downsampled:

        frac_s = (n_min / n_s)^(1 - 1/tau)

    tau=1 keeps natural proportions (frac 1 everywhere); tau -> inf
    approaches uniform (every stratum cut to n_min). Output
    (strata_col, frac) feeds :func:`stratified_sample`, which keeps the
    whole path deterministic and append-stable.

    One tiny aggregation + broadcast; for tau=2 the exponent is 0.5 and
    the fraction is computed with sqrt — correctly rounded in IEEE-754,
    so the DuckDB oracle matches bit-for-bit (general tau uses pow,
    which carries last-ulp cross-engine risk; fine for production, not
    used by the oracle entry).
    """
    if tau <= 0:
        raise ValueError("tau must be positive")
    alpha = 1.0 - 1.0 / tau
    counts = docs.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n"))
    nmin = counts.agg(F.min("n").alias("n_min"))
    j = counts.crossJoin(F.broadcast(nmin))
    ratio = F.col("n_min") / F.col("n")
    frac = F.sqrt(ratio) if abs(alpha - 0.5) < 1e-12 else F.pow(ratio, F.lit(alpha))
    return j.select(strata_col, frac.alias("frac"))


def chunk_by_tokens(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    overlap_tokens: int = 8,
) -> DataFrame:
    """Token-boundary chunking: slice the whitespace-token stream into
    windows of ``chunk_tokens`` with ``overlap_tokens`` shared between
    consecutive chunks, re-joined with single spaces. The
    tokenizer-pipeline twin of :func:`chunk_documents` — no chunk ever
    splits a token, at the cost of not preserving original whitespace.

    Same narrow shape (tokenize once, explode window starts, slice the
    cached array) — zero shuffle. DuckDB twin: list slicing
    ``toks[a:b]`` + array_to_string.
    """
    if overlap_tokens >= chunk_tokens:
        raise ValueError("overlap_tokens must be < chunk_tokens")
    stride = chunk_tokens - overlap_tokens
    toks = tokens(text_col)
    staged = docs.select(
        F.col(id_col), toks.alias("_toks"), F.size(toks).alias("_n")
    )
    n_last = F.floor((F.col("_n") - 1) / stride).cast("int")
    exploded = staged.select(
        id_col,
        "_toks",
        F.explode(F.sequence(F.lit(0), F.greatest(n_last, F.lit(0)))).alias("chunk_id"),
    )
    piece = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_tokens)
    return exploded.select(
        id_col,
        "chunk_id",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("chunk_tokens"),
    )


def benchmark_decontaminate(
    docs: DataFrame,
    probes: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    probe_id_col: str = "probe_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose word
    n-grams overlap an evaluation/benchmark probe set — the standard
    "did the eval leak into the training data" check every large-scale
    corpus build runs before training.

    Semantics: a document's contamination is measured over its DISTINCT
    word n-grams; a gram is contaminated when it appears in ANY probe's
    distinct gram set. Output one row per document:
    (doc_id, n_grams, n_contaminated, contamination, n_probes_hit).

    Scale shape (100 TB corpus, MB-scale benchmark set): the probe gram
    table is tiny and BROADCAST, so the corpus side never shuffles for
    the match — explode(grams) -> broadcast hash join -> partial-agg
    count per doc. The final attach is a plain shuffle hash join on the
    id key: the hit-count side is one row per CONTAMINATED document —
    data-dependent and unbounded (a heavily contaminated corpus makes it
    corpus-sized), so it must NOT be broadcast; AQE picks a broadcast at
    runtime iff the measured size allows.

    The reference has no corpus tooling (vectors only,
    /root/reference/core/store.py); this is a prompt-mandated
    training-pipeline extension. DuckDB twin: same gram CTE as the
    jaccard family, probe side deduplicated, LEFT JOIN + coalesce(0).
    """
    from hnsw_vector_db_spark.functions.text import word_ngrams

    grams = F.array_distinct(word_ngrams(tokens(text_col), n))
    doc_sizes = docs.select(
        F.col(id_col), grams.alias("_grams")
    ).select(id_col, F.size("_grams").alias("n_grams"), F.col("_grams"))
    probe_grams = (
        probes.select(F.col(probe_id_col), grams.alias("_g"))
        .select(probe_id_col, F.explode("_g").alias("gram"))
        .distinct()
    )
    hits = (
        doc_sizes.select(id_col, F.explode("_grams").alias("gram"))
        .join(F.broadcast(probe_grams), "gram")
        .groupBy(id_col)
        .agg(
            F.countDistinct("gram").alias("n_contaminated"),
            F.countDistinct(probe_id_col).alias("n_probes_hit"),
        )
    )
    return (
        doc_sizes.drop("_grams")
        .join(hits, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            F.round(
                F.when(F.col("n_grams") > 0,
                       F.coalesce("n_contaminated", F.lit(0)) / F.col("n_grams"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("contamination"),
            F.coalesce("n_probes_hit", F.lit(0)).alias("n_probes_hit"),
        )
    )


def strip_boilerplate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    min_docs: int = 3,
    min_frac: float = 0.5,
) -> DataFrame:
    """Per-source boilerplate removal: drop lines that repeat across a
    large fraction of a source's documents (nav bars, footers, cookie
    banners — the classic CommonCrawl cleanup stage).

    A line is boilerplate within ``group_col`` when it appears in
    >= ``min_frac`` of that group's documents AND >= ``min_docs``
    documents. Lines are compared exactly after trimming. Output:
    (doc_id, clean_text, n_lines, n_removed).

    Scale shape: one groupBy (group, line) over distinct doc-lines with
    map-side partial counts, a broadcast-able boilerplate line set per
    group (boilerplate is by construction a tiny fraction of distinct
    lines), then an anti-join on (group, line) before re-assembly.
    Re-assembly is ONE aggregate per doc — collect_list(struct(line_no,
    line)) sorted in-expression — each doc's lines materialize exactly
    once (an unbounded window here would copy the whole array onto every
    line-row: quadratic in lines-per-doc).

    DuckDB twin: string_split(text, chr(10)) + the same count/threshold
    CTEs; re-assemble with string_agg ordered by line index.
    """
    lines = docs.select(
        F.col(id_col),
        F.col(group_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("line_no", "line"),
    ).withColumn("line", F.trim("line"))
    group_sizes = docs.groupBy(group_col).agg(
        F.countDistinct(id_col).alias("_gdocs")
    )
    boiler = (
        lines.filter(F.col("line") != "")
        .select(group_col, id_col, "line")
        .distinct()
        .groupBy(group_col, "line")
        .agg(F.count(F.lit(1)).alias("_ndocs"))
        .join(F.broadcast(group_sizes), group_col)
        .filter(
            (F.col("_ndocs") >= min_docs)
            & (F.col("_ndocs") / F.col("_gdocs") >= min_frac)
        )
        .select(group_col, "line", F.lit(1).alias("_boiler"))
    )
    marked = lines.join(F.broadcast(boiler), [group_col, "line"], "left")
    kept = marked.filter(F.col("_boiler").isNull())
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = lines.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_lines"))
    return (
        totals.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_lines",
            (F.col("n_lines") - F.coalesce("n_kept", F.lit(0))).alias("n_removed"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    k: int = 100,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    salt: str = "wsample1",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (top-k by the
    Efraimidis-Spirakis exponential key, IPL 2006): each row draws
    u = (hash(id||salt) + 0.5)/GRAIN in (0,1) and scores
    key = ln(u)/w — taking the k LARGEST keys is exactly weighted
    sampling without replacement with inclusion probability
    proportional to w at each draw.

    Why this shape at scale: no rand() (reruns and retries see the same
    sample), no count() pre-pass, no shuffle of the corpus — the plan is
    a projection + TakeOrderedAndProject (the same bounded-heap physical
    op as single-query kNN), so 100 TB costs one scan. Rows with
    non-positive weight are excluded (their key is undefined).
    Deterministic tiebreak (key, id) pins the boundary.
    """
    u = (_sample_u(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt)))
         + F.lit(0.5)) / F.lit(float(SAMPLE_GRAIN))
    w = F.col(weight_col).cast("double")
    key = F.log(u) / w
    return (
        docs.filter(w > 0)
        .select(F.col(id_col), w.alias("weight"), key.alias("sample_key"))
        .orderBy(F.col("sample_key").desc(), F.col(id_col).asc())
        .limit(k)
    )


def dsir_weights(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    dim: int = 1024,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_handles: list | None = None,
) -> DataFrame:
    """DSIR-class importance weights (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023,
    arXiv:2302.03169): score every raw document by how much more likely
    its hashed n-gram features are under a TARGET (in-domain) corpus
    model than under the RAW corpus model. The weights feed
    :func:`weighted_sample` for the paper's importance-resampling step —
    the sample-selection tier of a training-data pipeline (which raw
    web documents are worth training on, given a small quality corpus).

    Model: both corpora are bag-of-hashed-n-gram multinomials over
    ``dim`` buckets (unigrams + word bigrams, the paper's features,
    hashed with the engine-portable poly_hash). Bucket probabilities are
    Laplace-smoothed: p_b = (count_b + alpha) / (total + alpha*dim).
    Per document, log_w = sum_b c_b * (ln p_target_b - ln p_raw_b) /
    sum_b c_b — the paper's log importance weight, length-normalized so
    a 10x longer document scores by its average token, not its length
    (and so downstream exp(log_w) cannot overflow).

    Scale shape (100 TB): the two corpus models are ``dim``-row tables —
    aggregated with map-side partial counts and then BROADCAST; nothing
    joins corpus-to-corpus. The only data-sized shuffles are the
    (doc, bucket) count aggregation (at most ``dim`` rows per doc out of
    the partial agg) and the final per-doc sum, both keyed on doc id.
    The target corpus is typically tiny (a hand-picked quality set);
    scoring cost is one pass over the raw corpus. No vocabulary table
    exists at all — that is the point of hashing (same argument as
    text_analysis.hash_embed).

    Returns (id, n_feats, log_w) — log_w full precision; callers round
    at the edge. Docs with no tokens drop out (no features to score).
    """
    if dim < 2:
        raise ValueError(f"dim must be >= 2, got {dim}")
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")

    from hnsw_vector_db_spark.functions.text import word_ngrams

    parallelism = raw_docs.sparkSession.sparkContext.defaultParallelism

    def feat_buckets(docs: DataFrame) -> DataFrame:
        # spread first: the docs scan is often a handful of file splits
        # and the char-fold poly_hash over every unigram+bigram is the
        # CPU cost — without the spread it runs on one core (measured
        # 37.5x wall at 64x rows on a single-split replica vs ~8x
        # spread; same note as dedup._doc_shingle_sets). The tiny raw-
        # text shuffle buys full-width parallelism.
        toks = tokens(text_col)
        spread = docs.select(id_col, text_col).repartition(parallelism)
        uni = spread.select(F.col(id_col), F.explode(toks).alias("_f"))
        bi = spread.select(
            F.col(id_col), F.explode(word_ngrams(toks, 2)).alias("_f")
        )
        return uni.unionByName(bi).select(
            F.col(id_col), F.pmod(poly_hash(F.col("_f")), F.lit(dim)).alias("b")
        )

    # one tokenize+hash pass over the raw corpus: the per-doc counts are
    # computed first and the raw model FOLDS OUT OF THEM ((id,b) rows,
    # already partially aggregated) instead of re-scanning the corpus
    from pyspark import StorageLevel

    # persisted: per_doc is the one data-sized table and it feeds BOTH
    # the raw corpus model and the final scoring join — unpersisted,
    # the whole tokenize+hash+aggregate pass over the raw corpus runs
    # twice (the kneser_ney/incremental_dedup wide_new lesson; 64x
    # re-measured in BASELINE.md)
    per_doc = (
        feat_buckets(raw_docs)
        .groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("_c"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # cache lifecycle: the returned lazy DataFrame references this cache
    # — pass cache_handles to unpersist once the result is consumed
    if cache_handles is not None:
        cache_handles.append(per_doc)
    raw_m = per_doc.groupBy("b").agg(F.sum("_c").alias("_cr"))
    tgt_m = feat_buckets(target_docs).groupBy("b").agg(
        F.count(F.lit(1)).alias("_ct")
    )
    raw_n = raw_m.agg(F.sum("_cr").alias("_nr"))
    tgt_n = tgt_m.agg(F.sum("_ct").alias("_nt"))

    # per-bucket log ratio: ln((ct+a)/(nt+a*dim)) - ln((cr+a)/(nr+a*dim))
    # — identical literal structure to the DuckDB oracle so integer-count
    # inputs produce bit-identical doubles
    a = float(alpha)
    ad = float(alpha * dim)
    lr_col = F.log(
        (F.coalesce(F.col("_ct"), F.lit(0)).cast("double") + F.lit(a))
        / (F.col("_nt").cast("double") + F.lit(ad))
    ) - F.log(
        (F.col("_cr").cast("double") + F.lit(a))
        / (F.col("_nr").cast("double") + F.lit(ad))
    )
    lr = (
        raw_m.join(tgt_m, "b", "left")
        .crossJoin(F.broadcast(raw_n))
        .crossJoin(F.broadcast(tgt_n))
        .select("b", lr_col.alias("_lr"))
    )

    # NO broadcast hint on lr: its key domain is provably <= dim rows
    # (b = pmod(hash, dim)), but the linter can't see through pmod and
    # the hinted-broadcast-agg rule exists precisely because "I know
    # it's small" hints rot (the tfidf lesson) — AQE measures the
    # ~dim-row side and promotes the broadcast at runtime for free
    return (
        per_doc.join(lr, "b")
        .groupBy(id_col)
        .agg(
            F.sum("_c").cast("long").alias("n_feats"),
            (
                F.sum(F.col("_c").cast("double") * F.col("_lr"))
                / F.sum(F.col("_c").cast("double"))
            ).alias("log_w"),
        )
    )


def pack_token_ids(
    ids_df: DataFrame,
    seq_len: int = 128,
    n_shards: int = 8,
    id_col: str = "doc_id",
    ids_col: str = "ids",
    pad_id: "int | None" = None,
) -> DataFrame:
    """Cut per-document TOKEN-ID streams into fixed-length training
    sequences — the real packing step between
    :func:`~hnsw_vector_db_spark.operators.bpe.bpe_token_ids` and a
    trainer's batch shape (:func:`pack_sequences` plans budgets over
    CHUNK token counts; this operates on the actual id stream).

    Layout is a pure function of the input (the token_shards rule):
    shard = ``doc_id % n_shards``; within a shard, documents concatenate
    in ``doc_id`` order and the stream is cut into consecutive
    ``seq_len`` windows. Global token position = within-shard prefix
    sum + posexplode index; sequence = position div seq_len; slot =
    position mod seq_len — so every (shard, seq_id, slot, token) is
    re-derivable by an independent engine.

    Tail policy: ``pad_id=None`` DROPS the final partial sequence per
    shard (the common trainer default — a short tail wastes compute);
    an explicit ``pad_id`` (use a reserved id > EOD) right-pads it to
    ``seq_len`` instead.

    Scale shape: one narrow prefix-sum window per shard (keyed,
    parallel across shards), one posexplode of the token stream (the
    data — linear by definition), ONE shuffle keyed on (shard, seq_id)
    whose combiner assembles sequences map-side. ``n_docs`` per
    sequence is emitted because packers that cross document boundaries
    need it for attention masking downstream.

    Output: (shard, seq_id, n_tokens, n_docs, ids) with ids exactly
    ``seq_len`` long.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = ids_df.select(
        F.col(id_col), shard.alias("shard"), F.col(ids_col).alias("_ids")
    ).withColumn(
        "_off",
        F.coalesce(F.sum(F.size("_ids")).over(w), F.lit(0)).cast("long"),
    )
    toks = staged.select(
        id_col,
        "shard",
        "_off",
        F.posexplode("_ids").alias("_pos", "_tok"),
    ).select(
        F.col(id_col),
        F.col("shard"),
        F.col("_tok"),
        ((F.col("_off") + F.col("_pos")) / seq_len).cast("long").alias(
            "seq_id"
        ),
        ((F.col("_off") + F.col("_pos")) % seq_len).cast("int").alias(
            "slot"
        ),
    )
    grouped = toks.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tokens"),
        F.countDistinct(id_col).cast("int").alias("n_docs"),
        F.array_sort(
            F.collect_list(F.struct(F.col("slot"), F.col("_tok")))
        ).alias("_st"),
    )
    ids = F.transform(F.col("_st"), lambda x: x["_tok"])
    if pad_id is None:
        return grouped.filter(F.col("n_tokens") == seq_len).select(
            "shard", "seq_id", "n_tokens", "n_docs", ids.alias("ids")
        )
    padded = F.concat(
        ids,
        F.array_repeat(
            F.lit(int(pad_id)).cast("long"), F.lit(seq_len) - F.col("n_tokens")
        ),
    )
    return grouped.select(
        "shard", "seq_id", "n_tokens", "n_docs", padded.alias("ids")
    )


def _ffd_assign_scan(lens, seq_len: int):
    """Reference first-fit-decreasing assignment — the SEMANTICS ANCHOR:
    for each length (already in processing order) scan every open bin in
    creation order and take the first with room. O(items * open bins);
    kept only so the property suite can pin the production histogram
    kernel (:func:`_ffd_assign_hist`) against it on random streams."""
    import numpy as np

    n = len(lens)
    caps = np.empty(n, dtype=np.int64)
    counts = np.zeros(n, dtype=np.int64)
    nbins = 0
    bin_out = np.empty(n, dtype=np.int64)
    slot_out = np.empty(n, dtype=np.int64)
    for i, L in enumerate(lens):
        fits = np.nonzero(caps[:nbins] >= L)[0]
        if fits.size:
            b = int(fits[0])
        else:
            b = nbins
            caps[b] = seq_len
            nbins += 1
        bin_out[i] = b
        slot_out[i] = counts[b]
        counts[b] += 1
        caps[b] -= L
    return bin_out, slot_out


def _ffd_assign_hist(lens, seq_len: int):
    """Production first-fit-decreasing kernel in CAPACITY-CLASS histogram
    form (the SPFHP insight, Krell et al. arXiv:2107.02027): lengths are
    bounded by ``seq_len``, so open-bin capacities fall into at most
    ``seq_len + 1`` classes. Per class keep a min-heap of bin ids plus a
    vectorized ``head`` array of class minima; first-fit = argmin of
    ``head[L:]`` (the first-created bin with room IS the min bin id among
    classes >= L), then one heap pop + push moves the bin to its new
    class. O(items * seq_len) worst case via the C-speed argmin — the
    open-bin count (which grows with the corpus) never enters the bound,
    unlike :func:`_ffd_assign_scan`. Assignment is bit-identical to the
    scan kernel by construction (pinned by tests/test_corpus.py on
    random length streams)."""
    import heapq

    import numpy as np

    n = len(lens)
    INF = np.iinfo(np.int64).max
    by_cap = [[] for _ in range(seq_len + 1)]  # class -> min-heap of bins
    head = np.full(seq_len + 1, INF, dtype=np.int64)  # class minima
    counts = np.zeros(n, dtype=np.int64)
    nbins = 0
    bin_out = np.empty(n, dtype=np.int64)
    slot_out = np.empty(n, dtype=np.int64)
    for i, L in enumerate(lens):
        L = int(L)
        if L > seq_len or L < 1:
            # domain guard: a negative residual capacity would wrap via
            # Python negative indexing into a VALID capacity class and
            # silently overfill bins — pack_best_fit pre-splits pieces
            # to <= seq_len, but the kernel must hold its own contract
            raise ValueError(
                f"_ffd_assign_hist: length {L} outside [1, seq_len="
                f"{seq_len}] — split oversize pieces before packing"
            )
        seg = head[L:]
        j = int(np.argmin(seg)) if seg.size else 0
        if seg.size and seg[j] != INF:
            c = L + j
            b = heapq.heappop(by_cap[c])
            head[c] = by_cap[c][0] if by_cap[c] else INF
            cap = c - L
        else:
            b = nbins
            nbins += 1
            cap = seq_len - L
        bin_out[i] = b
        slot_out[i] = counts[b]
        counts[b] += 1
        heapq.heappush(by_cap[cap], b)
        if b < head[cap]:
            head[cap] = b
    return bin_out, slot_out


def pack_best_fit(
    ids_df: DataFrame,
    seq_len: int = 128,
    n_shards: int = 8,
    id_col: str = "doc_id",
    ids_col: str = "ids",
) -> DataFrame:
    """WHOLE-DOCUMENT sequence packing by first-fit-decreasing — the
    waste-aware packer (SPFHP family, Krell et al., arXiv:2107.02027)
    that :func:`pack_token_ids` (concat-and-cut) trades against: no
    document ever crosses a sequence boundary (no cross-doc attention
    contamination) and no token is dropped, at the cost of partially
    filled bins. Documents longer than ``seq_len`` are first split into
    ``seq_len``-sized pieces (the SPFHP convention — a full piece is
    its own full bin; the remainder joins the pool), so every token is
    placed exactly once.

    Deterministic layout (the token_shards rule): shard = doc_id mod
    n_shards; within a shard, pieces are processed in (length desc,
    doc_id, piece) order and each goes to the FIRST bin (creation
    order) with room, opening a new bin when none fits — classic FFD,
    fully replayable by an independent engine (the driver oracle does,
    via a recursive CTE carrying the bin-capacity list).

    Scale shape: ONE shuffle keyed on shard; the packing state is
    per-shard (applyInPandas over lengths only — token ids never enter
    the packing kernel), shards scale with the corpus, and within a
    shard the kernel runs in CAPACITY-CLASS histogram form
    (:func:`_ffd_assign_hist` — capacities are bounded by seq_len, so
    classes number at most seq_len + 1, the SPFHP insight): O(items *
    seq_len) worst case, independent of the open-bin count, so a shard
    holding 1/n_shards of a 100 TB corpus no longer makes the kernel
    quadratic. The exact O(items * open bins) scan kernel survives as
    :func:`_ffd_assign_scan`, the semantics anchor the histogram kernel
    is property-pinned against (identical assignment on random streams,
    tests/test_corpus.py).

    Output one row per piece: (shard, bin, slot, id_col, piece,
    n_tokens). Empty documents carry no tokens and are excluded. A NULL
    ``id_col`` raises with the column named — a silently NULL-routed
    shard group is corrupted packing with no error signature (malformed
    non-numeric ids already fail loudly in the ANSI cast upstream)."""
    import pandas as pd

    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    ensure_package_shipped(ids_df.sparkSession)
    staged = ids_df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.size(ids_col).alias("_n"),
    ).filter(F.col("_n") > 0)
    n_pieces = F.ceil(F.col("_n") / seq_len).cast("int")
    pieces = staged.select(
        id_col,
        "_n",
        F.explode(F.sequence(F.lit(0), n_pieces - 1)).alias("piece"),
    ).select(
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"),
        id_col,
        "piece",
        F.least(
            F.lit(seq_len), F.col("_n") - F.col("piece") * seq_len
        ).cast("int").alias("n_tokens"),
    )

    def _ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        install_zip_guard()
        if pdf[id_col].isna().any():
            raise ValueError(
                f"pack_best_fit: NULL {id_col} row — every row needs a "
                f"routable numeric id; filter or fix NULLs upstream"
            )
        pdf = pdf.sort_values(
            ["n_tokens", id_col, "piece"], ascending=[False, True, True]
        ).reset_index(drop=True)
        lens = pdf["n_tokens"].to_numpy()
        bin_out, slot_out = _ffd_assign_hist(lens, seq_len)
        return pd.DataFrame(
            {
                "shard": pdf["shard"],
                "bin": bin_out,
                "slot": slot_out,
                id_col: pdf[id_col],
                "piece": pdf["piece"],
                "n_tokens": pdf["n_tokens"],
            }
        )

    return pieces.groupBy("shard").applyInPandas(
        _ffd,
        f"shard int, bin long, slot long, {id_col} long, piece int, "
        f"n_tokens int",
    )


def epoch_shuffle(
    packed: DataFrame,
    epoch: int = 0,
    n_shards: int = 8,
    shard_col: str = "shard",
    seq_col: str = "seq_id",
    salt: str = "epoch",
) -> DataFrame:
    """Deterministic per-EPOCH re-deal of PACKED SEQUENCES across
    training shards — the trainer-facing analog of :func:`shard_shuffle`
    (which permutes documents): every epoch a trainer wants a fresh
    pseudo-random global order of the fixed set of packed sequences,
    reproducible across re-runs and job retries.

    key = poly_hash(shard || '#' || seq_id || '#' || salt || epoch);
    new_shard = key mod n_shards; new_pos = rank of key within the new
    shard ((shard, seq_id) tiebreak). Reading shards 0..n-1 in pos
    order yields the epoch's permutation; bumping ``epoch`` (or the
    salt) re-deals it completely — the cap_per_group finalizer lesson:
    the permutation is a pure function of (identity, seed), never of
    physical layout, so it survives AQE/retries/re-partitioning.

    ONE hash-partitioned window (shuffle keyed on new_shard only, no
    global sort); composes with
    :func:`~hnsw_vector_db_spark.sources.token_shards.write_token_shards`
    via a sequence id whose mod-``n_shards`` residue is ``new_shard``
    and whose within-shard order is ``new_pos``."""
    from pyspark.sql.window import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    key = poly_hash(
        F.concat(
            F.col(shard_col).cast("string"),
            F.lit("#"),
            F.col(seq_col).cast("string"),
            F.lit(f"#{salt}{int(epoch)}"),
        )
    )
    staged = packed.withColumn("_ek", key).withColumn(
        "new_shard", F.pmod(F.col("_ek"), F.lit(n_shards)).cast("int")
    )
    w = Window.partitionBy("new_shard").orderBy(
        "_ek", F.col(shard_col), F.col(seq_col)
    )
    return staged.withColumn(
        "new_pos", (F.row_number().over(w) - 1).cast("long")
    ).drop("_ek")


def epoch_manifest(
    packed: DataFrame,
    epoch: int = 0,
    n_shards: int = 8,
    shard_col: str = "shard",
    seq_col: str = "seq_id",
    salt: str = "epoch",
) -> DataFrame:
    """MANIFEST-ONLY epoch shuffle — the production form of
    :func:`epoch_shuffle` at trainer scale: instead of rewriting every
    token into a re-dealt binary artifact (O(tokens) per epoch — the
    r10 entry's measured 8.6x-at-64x shape), emit a per-epoch
    SEQUENCE-ORDER manifest (epoch, global_pos -> shard, seq_id) next
    to IMMUTABLE shards; a trainer reads its shards once and follows
    the manifest's permutation, so each epoch costs O(sequences) rows
    of four integers, not a token rewrite. This is how public trainer
    stacks epoch-shuffle indexed datasets (a shuffled index array over
    an mmapped .bin — the Megatron-LM convention the token_shards
    layout already follows).

    The permutation is DEFINED BY :func:`epoch_shuffle` (same poly-hash
    key, same re-deal): ``global_pos = new_pos * n_shards + new_shard``
    — reading the re-dealt shards round-robin in pos order and reading
    immutable shards through this manifest yield the IDENTICAL epoch
    order (pinned by tests/test_corpus.py). Only the identity columns
    enter the plan — token ids never touch the manifest — so the whole
    computation is ONE keyed window over (shard, seq_id) pairs.

    Output: (epoch int, global_pos long, shard, seq_id) — exactly one
    row per input sequence, global_pos a permutation of 0..n-1 when
    every pack shard is non-empty mod ``n_shards`` (in general it is
    injective; gaps appear only where a re-deal shard holds fewer
    sequences than the densest one times n_shards — the round-robin
    convention trainers use)."""
    dealt = epoch_shuffle(
        packed.select(shard_col, seq_col),
        epoch=epoch,
        n_shards=n_shards,
        shard_col=shard_col,
        seq_col=seq_col,
        salt=salt,
    )
    return dealt.select(
        F.lit(int(epoch)).cast("int").alias("epoch"),
        (F.col("new_pos") * n_shards + F.col("new_shard"))
        .cast("long")
        .alias("global_pos"),
        shard_col,
        seq_col,
    )


def rank_epoch_manifest(
    packed: DataFrame,
    epoch: int = 0,
    n_shards: int = 8,
    world_size: int = 1,
    shard_col: str = "shard",
    seq_col: str = "seq_id",
    salt: str = "epoch",
    gen_col: str | None = None,
) -> DataFrame:
    """RANK-BLOCKED epoch manifest — :func:`epoch_manifest` for a
    data-parallel trainer of ``world_size`` ranks, composed with
    selective shard reads: :func:`epoch_manifest`'s permutation spans
    ALL shards, so a rank following it must read every shard — which
    defeats exactly the listing-level pruning
    :func:`~hnsw_vector_db_spark.sources.token_shards.read_token_shards`
    provides via ``shards=``. Here the permutation is BLOCKED by rank:
    rank ``r`` owns pack shards ``{s : s % world_size == r}`` (the same
    residue arithmetic that routes ``doc_id % n_shards`` to files), and
    each rank's sequences are re-dealt ONLY among that rank's own
    shards — so a rank that mounts its pruned shard subset can realize
    its whole epoch order without touching a foreign file. This is the
    per-rank shuffled index window of public trainer data loaders
    (Megatron/NanoGPT-style: each rank permutes within its own slice of
    the index array); the reference analog is the offset-addressed
    selective access its storage engine is built for
    (`core/storage/engine.py:45-56`).

    The re-deal restricted to rank ``r`` is the EXACT
    :func:`epoch_shuffle` machinery with ``n_shards`` = the rank's own
    shard count ``m_r``: ``key = poly_hash(shard#seq_id#salt<epoch>)``,
    ``new_local = key % m_r``, ``new_pos`` = rank of the key within
    ``(rank, new_local)`` — so with ``world_size=1`` this function is
    bit-identical to :func:`epoch_manifest` (pinned in tests). Window
    partitioning stays ``(rank, new_local)`` — n_shards-way parallel,
    never a per-rank global sort.

    Positions: ``rank_pos = new_pos * m_r + new_local`` is the rank's
    LOCAL epoch order (what its dataloader follows);
    ``global_pos = rank_pos * world_size + rank`` interleaves ranks
    round-robin into one deterministic global order (what a logger or
    resume cursor addresses). Both are pure functions of
    (identity, epoch, salt) — never of physical layout.

    GENERATIONS (``gen_col``): a continuously-ingested corpus is a
    sequence of immutable shard GENERATIONS
    (:mod:`~hnsw_vector_db_spark.streaming.shards` — every generation
    repeats shard ids 0..n_shards-1), so sequence identity is
    (generation, shard, seq_id). Pass the generation column name and
    it folds into the hash key and rides through the output; rank
    ownership stays ``shard % world_size`` — gen-INDEPENDENT, so rank
    ``r`` reads ``gen-*/shard-s`` for its own ``s`` only and
    listing-level pruning survives corpus growth (a new generation
    adds files to every rank's glob, never a foreign shard id). With
    ``gen_col=None`` the key expression is byte-identical to before
    (single-generation manifests are unchanged).

    Output: (epoch int, rank int, rank_pos long, global_pos long,
    [gen_col,] shard, seq_id), one row per input sequence."""
    from pyspark.sql.window import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if world_size < 1:
        raise ValueError(f"world_size must be >= 1, got {world_size}")
    key_parts = (
        [F.col(gen_col).cast("string"), F.lit("#")] if gen_col else []
    )
    key = poly_hash(
        F.concat(
            *key_parts,
            F.col(shard_col).cast("string"),
            F.lit("#"),
            F.col(seq_col).cast("string"),
            F.lit(f"#{salt}{int(epoch)}"),
        )
    )
    rank = F.pmod(F.col(shard_col), F.lit(world_size)).cast("int")
    # m_r = |{s in [0, n_shards) : s % world_size == rank}| — closed
    # form, so it stays correct when world_size does not divide
    # n_shards (trailing ranks own one fewer shard)
    m_r = (
        (F.lit(n_shards - 1) - F.col("rank")) / F.lit(world_size)
    ).cast("long") + F.lit(1)
    id_cols = ([gen_col] if gen_col else []) + [shard_col, seq_col]
    staged = (
        packed.select(*id_cols)
        .withColumn("rank", rank)
        .withColumn("_m", m_r)
        .withColumn("_ek", key)
        .withColumn(
            "new_local", F.pmod(F.col("_ek"), F.col("_m")).cast("int")
        )
    )
    w = Window.partitionBy("rank", "new_local").orderBy(
        "_ek", *[F.col(c) for c in id_cols]
    )
    out = staged.withColumn(
        "rank_pos",
        ((F.row_number().over(w) - 1) * F.col("_m") + F.col("new_local"))
        .cast("long"),
    )
    return out.select(
        F.lit(int(epoch)).cast("int").alias("epoch"),
        "rank",
        "rank_pos",
        (F.col("rank_pos") * world_size + F.col("rank"))
        .cast("long")
        .alias("global_pos"),
        *id_cols,
    )


def rank_shard_ids(n_shards: int, world_size: int, rank: int) -> list[int]:
    """The pack-shard ids rank ``rank`` of ``world_size`` owns under
    :func:`rank_epoch_manifest`'s residue blocking — the exact list to
    pass as ``read_token_shards(shards=...)`` so the rank's file
    listing is pruned to its own shards."""
    if not 0 <= rank < world_size:
        raise ValueError(
            f"rank must be in [0, {world_size}), got {rank}"
        )
    return [s for s in range(n_shards) if s % world_size == rank]


def epoch_manifests(
    packed: DataFrame,
    n_epochs: int,
    n_shards: int = 8,
    world_size: int = 1,
    shard_col: str = "shard",
    seq_col: str = "seq_id",
    salt: str = "epoch",
    first_epoch: int = 1,
) -> DataFrame:
    """Manifests for epochs ``first_epoch .. first_epoch+n_epochs-1``
    in one DataFrame — the artifact a multi-epoch training job writes
    ONCE next to its immutable shards (partition the parquet by
    ``epoch`` and a dataloader prunes to its epoch for free). Each
    epoch is an independent :func:`rank_epoch_manifest` (epoch enters
    the hash key, so every epoch is a fresh re-deal); total cost is
    O(sequences * n_epochs) rows of six integers — vs the O(tokens *
    n_epochs) binary rewrite the manifest form exists to avoid
    (BASELINE.md r11/r12 measurements)."""
    if n_epochs < 1:
        raise ValueError(f"n_epochs must be >= 1, got {n_epochs}")
    base = packed.select(shard_col, seq_col)
    out = None
    for e in range(int(first_epoch), int(first_epoch) + int(n_epochs)):
        m = rank_epoch_manifest(
            base,
            epoch=e,
            n_shards=n_shards,
            world_size=world_size,
            shard_col=shard_col,
            seq_col=seq_col,
            salt=salt,
        )
        out = m if out is None else out.unionByName(m)
    return out


def resume_manifest(
    manifests: DataFrame,
    epoch: int,
    global_pos: int,
) -> DataFrame:
    """Deterministic RESUME cursor over :func:`epoch_manifests` output:
    the sub-manifest a job restarted at ``(epoch, global_pos)`` still
    owes — the rest of ``epoch`` from ``global_pos`` on, plus every
    later epoch, in (epoch, global_pos) order semantics. Because the
    manifests are pure functions of (identity, epoch, salt), the
    resumed stream is EXACTLY the tail of the uninterrupted run (the
    driver oracle pins resumed == tail) — no dataloader state file,
    no re-read of consumed epochs; the filter is two comparisons
    Catalyst pushes into the manifest scan (epoch-partitioned parquet
    prunes consumed epochs at the listing)."""
    return manifests.filter(
        (F.col("epoch") > int(epoch))
        | (
            (F.col("epoch") == int(epoch))
            & (F.col("global_pos") >= int(global_pos))
        )
    )


def pack_doc_spans(
    ids_df: DataFrame,
    seq_len: int = 128,
    n_shards: int = 8,
    id_col: str = "doc_id",
    ids_col: str = "ids",
    drop_tail: bool = True,
) -> DataFrame:
    """LOSS-MASK SIDECAR for :func:`pack_token_ids` — the per-sequence
    document-span table a trainer needs to reconstruct attention /
    loss masks from the packed artifact alone (the r11 verdict's ask:
    the ``.bin``/``.idx`` pair records WHERE each sequence's tokens
    live, but drops WHICH document each token came from; cross-document
    attention masking needs the spans). Reference analog: the
    metadata-next-to-payload convention of the snapshot engine
    (`core/storage/engine.py:23-68`).

    The spans are PURE ARITHMETIC over the same layout
    :func:`pack_token_ids` defines — shard = id mod n_shards, docs
    concatenated in id order, stream cut into ``seq_len`` windows: a
    document at within-shard offset ``off`` with ``n`` tokens occupies
    sequences ``off div L .. (off+n-1) div L``, contributing to
    sequence ``q`` the slot interval
    ``[max(off, qL) - qL, min(off+n, (q+1)L) - qL)``. So the whole
    computation is the SAME keyed prefix-sum window as the packer plus
    ONE ``sequence()`` explode of O(spans) rows — documents and spans,
    never tokens, touch the plan (a 100 TB corpus yields ~(n_docs +
    n_seqs) span rows; the token payload is pruned out entirely).

    ``drop_tail=True`` mirrors ``pack_token_ids(pad_id=None)``: spans
    falling in a shard's dropped partial tail sequence are dropped
    (the cut is ``seq_id < shard_total div L`` — one unbounded max
    window over the same shard partitioning). With ``drop_tail=False``
    tail spans are kept (the ``pad_id`` packer's shape).

    Output: (shard int, seq_id long, ``id_col`` long, start_slot int,
    end_slot int) with end exclusive; per (shard, seq_id) the spans of
    a FULL sequence tile [0, seq_len) exactly — pinned against
    pack_token_ids in tests and by the pack_spans driver oracle."""
    from pyspark.sql.window import Window

    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    shard = F.pmod(F.col(id_col), F.lit(n_shards)).cast("int")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = ids_df.select(
        F.col(id_col), shard.alias("shard"), F.size(ids_col).alias("_n")
    ).withColumn(
        "_off", F.coalesce(F.sum("_n").over(w), F.lit(0)).cast("long")
    )
    wt = Window.partitionBy("shard").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = staged.withColumn(
        "_tot", F.max(F.col("_off") + F.col("_n")).over(wt).cast("long")
    )
    spans = staged.filter(F.col("_n") > 0).select(
        F.col(id_col),
        "shard",
        "_off",
        "_n",
        "_tot",
        F.explode(
            F.sequence(
                (F.col("_off") / seq_len).cast("long"),
                ((F.col("_off") + F.col("_n") - 1) / seq_len).cast("long"),
            )
        ).alias("seq_id"),
    )
    if drop_tail:
        spans = spans.filter(
            F.col("seq_id") < (F.col("_tot") / seq_len).cast("long")
        )
    q0 = F.col("seq_id") * seq_len
    return spans.select(
        "shard",
        "seq_id",
        id_col,
        (F.greatest(F.col("_off"), q0) - q0).cast("int").alias("start_slot"),
        (F.least(F.col("_off") + F.col("_n"), q0 + seq_len) - q0)
        .cast("int")
        .alias("end_slot"),
    )


def pack_fit_spans(fit: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """LOSS-MASK SIDECAR for :func:`pack_best_fit` — the FFD twin of
    :func:`pack_doc_spans` (the r11 verdict's ask named BOTH packers):
    per (shard, bin), the slot-ordered pieces concatenate, so each
    piece's token interval is the running prefix sum of the earlier
    pieces' lengths. ONE keyed window over the packer's own output —
    no token ever enters the plan (the FFD kernel already works on
    lengths only), O(pieces) rows total.

    Output: (shard int, bin long, ``id_col`` long, piece int,
    start_slot int, end_slot int) with end exclusive; within a bin the
    spans tile [0, fill) contiguously from 0 where fill = the bin's
    token count (<= seq_len — FFD bins are partially full by design,
    the mask's tail is padding). Pinned against pack_best_fit's
    conservation properties in tests."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("shard", "bin")
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return fit.select(
        "shard",
        "bin",
        id_col,
        "piece",
        start.cast("int").alias("start_slot"),
        (start + F.col("n_tokens")).cast("int").alias("end_slot"),
    )


def retract_spans(
    spans: DataFrame,
    retract: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """MASK-MODE TAKEDOWN over a span sidecar: the sidecar rows whose
    document is retracted — exactly the ``[start_slot, end_slot)``
    intervals a trainer zeroes in its loss mask so a removed document
    stops contributing gradient WITHOUT touching the immutable
    ``.bin``/``.idx`` artifact (the mask is metadata; the bytes never
    move). Reference analog: the tombstone path of the vector store's
    delete (`core/hnsw/graph.py` marks, never compacts) — removal as a
    metadata overlay on an immutable payload.

    Scale shape: takedown lists are tiny relative to the corpus
    (thousands of ids against billions of docs), so the retract side is
    BROADCAST — the spans scan never shuffles, and Catalyst prunes the
    sidecar columns it doesn't need. For bulk removals large enough to
    matter storage-wise, repack instead (this is the surgical path).

    Input ``spans`` is :func:`pack_doc_spans` (cut packer) or
    :func:`pack_fit_spans` (FFD packer) output; ``retract`` any
    DataFrame with an ``id_col`` column (extra columns ignored,
    duplicates and unknown ids harmless). Output: the matching span
    rows, schema unchanged."""
    ids = retract.select(id_col).distinct()
    return spans.join(F.broadcast(ids), id_col, "semi")


def retract_manifest(
    manifests: DataFrame,
    spans: DataFrame,
    retract: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """DROP-MODE TAKEDOWN over epoch manifests: remove every sequence
    that CONTAINS a retracted document from the training order, leaving
    shards and every other manifest row untouched — the O(manifest +
    spans) form of "delete these documents from the next run" that the
    manifest architecture exists to enable (the alternative is a full
    O(tokens) re-pack + re-write of the binary artifact; BASELINE.md
    r12 measures the gap). Positions are NOT re-dealt: surviving rows
    keep their ``global_pos``, so retraction leaves gaps in the epoch
    order exactly like a skipped batch — deterministic, and a resume
    cursor taken before the retraction stays valid.

    The hit set (distinct (shard, seq_id) containing a retracted doc)
    comes from the span sidecar via :func:`retract_spans` and is
    BROADCAST into an anti-join against the manifest scan — a takedown
    of t docs touches ~t·E manifest rows' worth of work, never the
    token payload. Works on single-epoch :func:`epoch_manifest` output,
    multi-epoch :func:`epoch_manifests`, and rank-blocked
    :func:`rank_epoch_manifest` manifests alike (the join key is
    (shard, seq_id); epoch/rank columns pass through).

    Dropping whole sequences over-removes up to seq_len-1 neighbor
    tokens per hit; when that loss matters, use :func:`retract_spans`
    to mask instead of drop."""
    hits = (
        retract_spans(spans, retract, id_col=id_col)
        .select("shard", "seq_id")
        .distinct()
    )
    return manifests.join(F.broadcast(hits), ["shard", "seq_id"], "anti")


def dsir_apply(
    raw_docs: DataFrame,
    log_ratio: "list[float]",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score documents with a STORED DSIR model — the production path
    :func:`dsir_weights` trains for. The model a DSIR run actually
    ships is one ``dim``-entry table of per-bucket log ratios
    (ln p_target_b − ln p_raw_b); re-deriving it per dashboard refresh
    re-scans BOTH corpora (the training cost), while applying it is a
    single pass: hash each document's unigram+bigram features to
    buckets, look the stored ratio up as a LITERAL array (codegen
    ``element_at`` — no join, the model travels inside the plan), and
    length-normalize: log_w = Σ c_b·ratio_b / Σ c_b.

    Scale shape: one tokenize+hash pass, one (doc, bucket) partial
    aggregation, one per-doc sum — strictly less work than
    dsir_weights (no corpus models, no broadcast). Returns
    (id, n_feats, log_w), same contract as dsir_weights; docs with no
    tokens drop out.
    """
    dim = len(log_ratio)
    if dim < 2:
        raise ValueError(f"log_ratio needs >= 2 buckets, got {dim}")
    from hnsw_vector_db_spark.functions.text import word_ngrams

    parallelism = raw_docs.sparkSession.sparkContext.defaultParallelism
    toks = tokens(text_col)
    # spread first — same single-split CPU-parallelism note as
    # dsir_weights.feat_buckets
    spread = raw_docs.select(id_col, text_col).repartition(parallelism)
    uni = spread.select(F.col(id_col), F.explode(toks).alias("_f"))
    bi = spread.select(
        F.col(id_col), F.explode(word_ngrams(toks, 2)).alias("_f")
    )
    per_doc = (
        uni.unionByName(bi)
        .select(
            F.col(id_col),
            F.pmod(poly_hash(F.col("_f")), F.lit(dim)).alias("b"),
        )
        .groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    ratio = F.element_at(
        lit_double_array(log_ratio),
        F.col("b").cast("int") + 1,
    )
    return per_doc.select(F.col(id_col), F.col("_c"), ratio.alias("_lr")).groupBy(
        id_col
    ).agg(
        F.sum("_c").cast("long").alias("n_feats"),
        (
            F.sum(F.col("_c").cast("double") * F.col("_lr"))
            / F.sum(F.col("_c").cast("double"))
        ).alias("log_w"),
    )


def grouped_split(
    df: DataFrame,
    group_col: str,
    test_pct: int = 20,
    salt: str = "split",
) -> DataFrame:
    """Leakage-safe deterministic train/test split: the WHOLE group
    (same author, same source domain, same near-dup cluster...) lands on
    one side, decided by the portable poly hash of the group key — the
    split ML evaluation actually requires (row-level random splits leak:
    two near-identical documents from one source straddle the boundary
    and the eval set stops measuring generalization; Kapoor & Narayanan
    2023 catalog this failure across 300+ papers).

    Properties that matter at 100 TB: stateless and deterministic (any
    executor, any round, any engine computes the same side for a key —
    re-runs and incremental arrivals are consistent WITHOUT a stored
    assignment table or a join; new rows of an old group inherit its
    side), a pure narrow projection (no shuffle at all), and re-saltable
    for fresh folds. Adds a ``split`` column ('test' when
    pmod(hash(key # salt), 100) < test_pct else 'train')."""
    if not 0 <= test_pct <= 100:
        raise ValueError(f"test_pct must be in [0,100], got {test_pct}")
    bucket = F.pmod(
        poly_hash(
            F.concat(F.col(group_col).cast("string"), F.lit("#" + salt))
        ),
        F.lit(100),
    )
    return df.withColumn(
        "split", F.when(bucket < test_pct, F.lit("test")).otherwise(F.lit("train"))
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    id_col: str = "doc_id",
    salt: str = "cap1",
) -> DataFrame:
    """Per-group document cap (domain capping — the anti-monoculture
    stage every crawl pipeline runs: no single source may contribute
    more than ``cap`` documents, so megasites can't dominate the
    training mix). Which rows survive is decided by a DETERMINISTIC
    hash order (poly hash of id + salt, id tiebreak), not arrival
    order — so the kept set is stable across re-runs, engines, and
    partitionings, and re-saltable for a different draw.

    The poly fold is AFFINE in the salt characters (two salts differ by
    a per-id-length constant mod p), so a raw re-salt would only rotate
    the order, not re-deal it. A non-linear finalizer (h*h + h mod p)
    breaks that affinity; the DuckDB oracle replays the identical
    fold + finalizer, so the kept set stays engine-exact.

    Scale shape: one hash-partitioned window per group — and because
    rank() over (hash, id) needs no global order, the plan is a single
    Exchange on group_col with WindowGroupLimit pushing the cap BELOW
    the shuffle (map-side top-cap per partition, the same machinery as
    top_orders_per_cust). Skewed megagroups cost their own partition
    only — MEASURED: the bench_scale planted-skew replica (60% of docs
    on one host, 64x) runs at 1.25x the uniform wall (BASELINE.md r9
    skew table); at larger skew the mitigation is a salted map-side
    pre-truncation (keep the per-(group, salt) top-cap first, then the
    exact window over <= cap * n_salts rows per group).
    Output: input rows + kept boolean."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    from pyspark.sql.window import Window as W

    h = poly_hash(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt)))
    # h < 2^31 so h*h + h fits a long; the square de-linearizes the salt.
    u = F.pmod(F.pmod(h * h + h, F.lit(2147483647)), F.lit(SAMPLE_GRAIN))
    w = W.partitionBy(group_col).orderBy(u.asc(), F.col(id_col).asc())
    return df.withColumn("kept", F.row_number().over(w) <= cap)


def strip_boilerplate_lines(
    docs: DataFrame,
    min_docs: int = 5,
    scope_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style line-level boilerplate removal (Wenzek et al.,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data", LREC 2020 — public): drop every LINE that occurs, byte-equal,
    in at least ``min_docs`` distinct documents (within ``scope_col`` —
    e.g. the source domain — when given, corpus-wide otherwise). This is
    the nav-menu / cookie-banner / footer stripper every web-crawl
    pipeline runs BEFORE document-level dedup: two pages sharing a
    boilerplate header are not near-duplicates, but the header should
    not survive into training text. The span-level sibling
    (:func:`~.dedup.span_dedup`) excises repeated TOKEN runs; this
    operator's unit is the visual line, CCNet's definition.

    Scale shape: one posexplode of the line-split (no pairwise
    anything), one keyed aggregation counting DISTINCT docs per
    (scope, line) — map-side partial aggregation collapses the stream
    because boilerplate is by definition high-frequency — and one
    equi-join back on the line key. Reassembly is a per-doc
    collect_list + array_sort on the carried line_no (deterministic,
    no window). Empty-after-strip docs survive with text_clean = ''.

    Output: (id_col, n_lines_in, n_lines_kept, text_clean), one row per
    input doc. Oracle-checkable end to end (split_part/unnest + count
    distinct + string_agg ORDER BY replays it exactly)."""
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2, got {min_docs}")
    scope = F.col(scope_col) if scope_col else F.lit("")
    lines = docs.select(
        F.col(id_col),
        scope.alias("_scope"),
        # coalesce: split(NULL) feeds posexplode zero rows, which would
        # silently DROP null-text docs from the output — the contract is
        # one row per input doc, so null text behaves as ''.
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("_ln", "_line"),
    )
    freq = (
        lines.groupBy("_scope", "_line")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_scope", "_line", F.lit(True).alias("_boiler"))
    )
    kept = (
        lines.join(freq, ["_scope", "_line"], "left")
        .withColumn("_keep", F.col("_boiler").isNull())
    )
    reassembled = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines_in"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_keep"),
                            F.struct(F.col("_ln"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("text_clean"),
    )
    return reassembled.select(
        F.col(id_col),
        F.col("n_lines_in").cast("int").alias("n_lines_in"),
        F.col("n_lines_kept").cast("int").alias("n_lines_kept"),
        "text_clean",
    )
