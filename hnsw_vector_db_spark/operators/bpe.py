"""Byte-pair-encoding tokenizer TRAINING and application, Spark-native.

BPE (Sennrich et al., ACL 2016 — the tokenizer-training algorithm behind
GPT/Llama-class vocabularies) is inherently iterative: count adjacent
symbol pairs, merge the most frequent pair everywhere, repeat. The
reference engine has no text tooling at all; a training-data platform
needs the tokenizer side of the house, and BPE training is its core.

Spark shape (what survives 100 TB):

- Training NEVER touches the raw token stream after the first pass: the
  corpus collapses to the DISTINCT-WORD frequency table (wf) up front —
  the classic trick (Zipf: billions of tokens -> millions of distinct
  words). That histogram is then COLLECTED ONCE (bounded, guarded) and
  the merge loop runs in driver memory (:func:`train_merges`, lazy
  max-heap + inverted pair index) — the SentencePiece/HF trainer shape.
  A job-per-merge distributed loop is the wrong physics at production
  vocab sizes: 32k-100k merges would mean 32k-100k SEQUENTIAL Spark
  jobs over a vocabulary-sized table, pure job-launch overhead.
- APPLICATION stays fully distributed and Python-free: a fixed merge
  list is applied to the distinct-word table as chained codegen left
  folds (:func:`_merge_fold`), and the raw stream is touched exactly
  twice (tf collapse + final join) — see bpe_segment / bpe_token_ids /
  tokenizer_stats.
- The BYTE-LEVEL tier (byte_bpe_*) is the production-tokenizer form
  (GPT-2 family, Radford et al. 2019): text partitions losslessly into
  whitespace/non-whitespace pieces, each piece's UTF-8 bytes map
  through the published byte<->printable bijection, merges are learned
  over the distinct-PIECE histogram, and byte_bpe_decode inverts the
  whole path exactly — decode(encode(text)) == text for ANY input, the
  reversibility property trainers debug with.

Tie-break: (count desc, left asc, right asc) — total order, so the
learned merge sequence is deterministic and engine-independent; the
pytest suite pins it against an independent textbook Python
implementation (tests/test_bpe.py).
"""

from __future__ import annotations

import heapq

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from hnsw_vector_db_spark.functions.text import tokens
from hnsw_vector_db_spark.session import bounded_collect

END = "</w>"  # end-of-word marker, per the original formulation

# lossless text partition: alternating whitespace / non-whitespace runs
# cover every character exactly once, so concatenating the pieces back
# reproduces the original text byte-for-byte — the property the
# byte-level tier's decode guarantee rests on (GPT-2 uses a fancier
# regex for the same reason: pre-tokenizer pieces must tile the text)
PIECE_RE = r"\s+|\S+"


def _merge_fold(syms: Column, left: str, right: str) -> Column:
    """Apply ONE merge (left,right)->left||right to a symbol array as a
    pure codegen left fold: walk indices with a struct accumulator
    (out array + skip flag); when syms[i:i+2] == (left, right), emit the
    merged symbol and skip the next index. Leftmost-first,
    non-overlapping — exactly the sequential semantics of the textbook
    algorithm, with no UDF."""
    n = F.size(syms)
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(False).alias("skip"),
    )

    def step(acc, i):
        cur = F.element_at(syms, i + 1)
        nxt = F.element_at(syms, i + 2)  # null at the end
        is_pair = (
            (~acc["skip"]) & (cur == F.lit(left)) & (nxt == F.lit(right))
        )
        out = (
            F.when(acc["skip"], acc["out"])
            .when(is_pair, F.concat(acc["out"], F.array(F.lit(left + right))))
            .otherwise(F.concat(acc["out"], F.array(cur)))
        )
        return F.struct(out.alias("out"), is_pair.alias("skip"))

    folded = F.aggregate(
        F.sequence(F.lit(0), n - 1), init, step, lambda acc: acc["out"]
    )
    return F.when(n == 0, syms).otherwise(folded)


def word_freqs(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, wf) corpus word-frequency table — the one pass over the
    raw token stream; everything after runs at vocab size."""
    return (
        docs.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wf"))
    )


def _initial_seg(wf: DataFrame) -> DataFrame:
    """Segment each distinct word into characters + the end marker."""
    return wf.select(
        "word",
        "wf",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(END))
        ).alias("syms"),
    )


def _pair_multiset(syms: "list[str]") -> "dict[tuple[str, str], int]":
    """Adjacent-pair multiset of one symbol sequence (within-sequence
    occurrences counted, matching :func:`_pair_counts`'s zip-with-tail)."""
    c: dict[tuple[str, str], int] = {}
    for a, b in zip(syms, syms[1:]):
        p = (a, b)
        c[p] = c.get(p, 0) + 1
    return c


def _merge_pair(syms: "list[str]", left: str, right: str) -> "list[str]":
    """Leftmost-first non-overlapping (left,right)->left||right — the
    in-memory twin of :func:`_merge_fold` (same sequential semantics)."""
    out: list[str] = []
    j, n, fused = 0, len(syms), left + right
    while j < n:
        if j + 1 < n and syms[j] == left and syms[j + 1] == right:
            out.append(fused)
            j += 2
        else:
            out.append(syms[j])
            j += 1
    return out


def _segment_words_applied(
    words: DataFrame,
    merges: "list[tuple[str, str, int]] | list[tuple[str, str]]",
) -> DataFrame:
    """``(word)`` -> ``(word, syms)``: character+END segmentation with
    the merge list applied IN ORDER — the Arrow-batched form of chaining
    :func:`_merge_fold` once per merge (r12 optimization, guide §4.2).

    The fold chain ran as nested higher-order ``aggregate`` expressions
    — interpreted closures with an O(len) array copy per step per merge,
    plus a ``localCheckpoint`` job every 8 merges to keep the expression
    tree bounded. Here each distinct word runs the in-memory twin
    :func:`_merge_pair` (docstring: same sequential semantics —
    leftmost-first, non-overlapping) once per merge inside one
    mapInPandas stage: no checkpoint jobs, no interpreted expression
    walk. Python ``list(word)`` splits per codepoint exactly like
    Spark's ``split(word, '')`` (both yield astral-plane characters
    whole). Value-identity with the fold chain is pinned in
    tests/test_bpe.py."""
    import pandas as pd

    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    ensure_package_shipped(words.sparkSession)
    mlist = [(m[0], m[1]) for m in merges]

    def _seg(batches):
        install_zip_guard()
        for pdf in batches:
            out = []
            for w in pdf["word"]:
                syms = list(w) + [END]
                for left, right in mlist:
                    syms = _merge_pair(syms, left, right)
                out.append(syms)
            yield pd.DataFrame({"word": pdf["word"], "syms": out})

    # spread the CPU-bound segmentation: the distinct-word table lands
    # in a handful of post-AQE partitions (the _doc_shingle_sets lesson)
    par = words.sparkSession.sparkContext.defaultParallelism
    return words.repartition(par).mapInPandas(
        _seg, "word string, syms array<string>"
    )


def train_merges(
    seqs: "list[tuple[list[str], int]]", n_merges: int
) -> list[tuple[str, str, int]]:
    """Greedy BPE merge loop over a COLLAPSED (symbol-sequence, freq)
    table, entirely in memory — the engine every production tokenizer
    trainer runs once the corpus has been Zipf-collapsed to its
    distinct-word (or distinct-piece) histogram. Incremental bookkeeping:
    a lazy max-heap over weighted pair counts plus a pair -> sequences
    inverted index, so each merge touches only the sequences that
    contain its pair and costs O(changed pairs · log heap), never a
    rescan — 32k merges are 32k heap pops, not 32k jobs.

    Tie-break (count desc, left asc, right asc) and the support<2 early
    stop are identical to the textbook formulation pinned by
    tests/test_bpe.py, so callers that switched from the former
    job-per-merge loop learn byte-identical merge sequences."""
    seq_syms = [list(s) for s, _ in seqs]
    freqs = [int(f) for _, f in seqs]
    per_seq: list[dict[tuple[str, str], int]] = []
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for i, syms in enumerate(seq_syms):
        c = _pair_multiset(syms)
        per_seq.append(c)
        f = freqs[i]
        for p, k in c.items():
            counts[p] = counts.get(p, 0) + k * f
            where.setdefault(p, set()).add(i)
    # lazy heap: every count CHANGE pushes a fresh entry; stale entries
    # are skipped on pop by checking against the live counts dict.
    # Ordering (-count, (left, right)) == (count desc, left asc,
    # right asc) — the documented total order.
    heap = [(-c, p) for p, c in counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str, int]] = []
    while len(merges) < n_merges:
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if counts.get(p, 0) == -negc:
                best = (p, -negc)
                break
        if best is None or best[1] < 2:
            break  # support < 2 carries no compression information
        (left, right), support = best
        merges.append((left, right, support))
        for i in where.get((left, right), set()).copy():
            old = per_seq[i]
            out = _merge_pair(seq_syms[i], left, right)
            new = _pair_multiset(out)
            f = freqs[i]
            for p in set(old) | set(new):
                d = new.get(p, 0) - old.get(p, 0)
                if not d:
                    continue
                c = counts.get(p, 0) + d * f
                if c <= 0:
                    counts.pop(p, None)
                else:
                    counts[p] = c
                    heapq.heappush(heap, (-c, p))
                if new.get(p, 0):
                    where.setdefault(p, set()).add(i)
                else:
                    s = where.get(p)
                    if s is not None:
                        s.discard(i)
            seq_syms[i] = out
            per_seq[i] = new
        counts.pop((left, right), None)
        where.pop((left, right), None)
    return merges


def _histogram_cap_error(what: str, param: str, cap: "int | None") -> str:
    """The over-cap advice for a BPE histogram collect (a histogram that
    outgrew the driver should raise with advice, not OOM)."""
    return (
        f"{what} histogram exceeds {param}={cap} rows; raise the "
        f"cap (driver memory permitting — the exact-path fix), or "
        f"pass min_freq=2 to cut the hapax tail (an APPROXIMATION: "
        f"dropped entries still contribute to pair supports, so the "
        f"learned merge sequence can change — see the min_freq docs)"
    )


# r13: distinct-word cap for bpe_token_ids' single-collect fast path
# (see its body) — the same bounded-collect class as bpe_train's
# max_collect_words default; above it the distributed two-job path runs.
_BPE_TOKEN_IDS_COLLECT_CAP = 2_000_000


def _min_freq_cut(hist: DataFrame, freq_col: str, min_freq: int) -> DataFrame:
    """Filter a collapsed histogram to entries with frequency >=
    ``min_freq`` BEFORE the bounded collect — the knob that keeps the
    driver-side trainer runnable when the distinct-entry table outgrows
    the collect cap (at 100 TB of web text the long tail is mostly
    typos/URLs/hashes that occur once).

    APPROXIMATION CONTRACT (be honest about it): dropped entries still
    contribute to CROSS-entry pair supports — two distinct hapax words
    can share a pair — so the cut changes the weighted pair counts, and
    with them possibly the learned merge sequence. It is exact whenever
    no retained merge decision's winning margin is smaller than the
    support mass the dropped tail carried for the competing pairs (in
    particular: vacuously exact when every entry already meets
    ``min_freq``, e.g. any corpus replicated >= min_freq times). This
    is the standard trainer trade (HF/SentencePiece expose the same
    knob as min_frequency) — a bounded, documented approximation versus
    an OOM."""
    if min_freq < 1:
        raise ValueError(f"min_freq must be >= 1, got {min_freq}")
    if min_freq == 1:
        return hist
    return hist.filter(F.col(freq_col) >= min_freq)


def bpe_train(
    docs: DataFrame,
    n_merges: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_collect_words: "int | None" = 10_000_000,
    min_freq: int = 1,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the ordered
    list [(left, right, support), ...] — support is the weighted pair
    count at the time of the merge, and the sequence of supports is
    provably non-increasing (a merge can only create new pairs bounded
    by its own support; the driver entry pins that invariant in-row).

    Stops early when no pair occurs twice (support < 2 carries no
    compression information).

    Scale shape: the ONE corpus-sized stage (:func:`word_freqs`) stays
    distributed; the merge loop itself runs in driver memory over the
    collected distinct-word histogram (:func:`train_merges`) — exactly
    how SentencePiece/HF trainers operate, because after the Zipf
    collapse the table is vocabulary-sized (millions of rows for a
    100 TB corpus, guarded by ``max_collect_words``) while the former
    job-per-merge loop would mean 32k-100k SEQUENTIAL Spark jobs at a
    production vocab — unrunnable regardless of data volume. Per-merge
    cost is now a heap pop + localized recount (no job launch), and the
    learned sequence is bit-identical to the distributed formulation
    (same total order, pinned by tests/test_bpe.py).

    ``min_freq`` cuts the histogram tail BEFORE the collect (see
    :func:`_min_freq_cut` for the documented approximation contract —
    dropped hapax still contribute to cross-word pair supports, so the
    learned sequence can change; exact when every word already meets
    the threshold)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    rows = bounded_collect(
        _min_freq_cut(word_freqs(docs, text_col, id_col), "wf", min_freq),
        max_collect_words,
        _histogram_cap_error("word-freq", "max_collect_words", max_collect_words),
    )
    seqs = [(list(r["word"]) + [END], int(r["wf"])) for r in rows]
    return train_merges(seqs, n_merges)


def tokenizer_stats(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-SOURCE tokenizer-readiness report for a fixed merge list —
    the table a curator reads before committing a tokenizer to a
    corpus mix: docs, words, chars, subword tokens, chars-per-token
    (the compression a source actually gets), and the CHAR-FALLBACK
    rate — the fraction of emitted subwords that are single characters,
    i.e. text the merge vocabulary failed to cover (BPE's analog of
    OOV; high fallback on a source means the tokenizer was trained on
    different text and that source will pay more tokens per byte).

    Same scale shape as :func:`bpe_segment`: merge folds run over the
    DISTINCT-WORD table only; the raw stream is touched once for the
    (source, word) tf collapse and once for the final join; the report
    is one source-keyed aggregate with map-side partial combine.

    Every source appears exactly once: the report starts from the
    per-source doc-count aggregate and LEFT-joins the token-derived
    metrics, so a source whose documents tokenize to zero words
    (empty/whitespace-only text) still shows up with its ``n_docs``
    and zero counts (the ratio columns are NULL — 0/0 has no honest
    number)."""
    wtf = (
        docs.select(
            F.col(source_col), F.explode(tokens(text_col)).alias("word"),
            F.col(id_col),
        )
        .groupBy(source_col, "word")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct(id_col).alias("df"),
        )
    )
    vocab = wtf.select("word").distinct()
    # one Arrow stage applies every merge in order (see
    # _segment_words_applied — replaces the interpreted fold chain)
    seg = _segment_words_applied(vocab, merges)
    # a symbol is a char-fallback iff its visible text (the '</w>'
    # end-of-word marker stripped as a SUFFIX only) is one char
    visible = lambda s: F.regexp_replace(s, r"</w>$", "")
    sized = seg.select(
        "word",
        F.size("syms").alias("n_sub"),
        F.length("word").alias("n_ch"),
        F.size(
            F.filter(F.col("syms"), lambda s: F.length(visible(s)) == 1)
        ).alias("n_single"),
    )
    n_docs = docs.groupBy(source_col).agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    metrics = (
        wtf.join(sized, "word")
        .groupBy(source_col)
        .agg(
            F.sum("tf").cast("long").alias("n_words"),
            F.sum(F.col("tf") * F.col("n_ch")).cast("long").alias("n_chars"),
            F.sum(F.col("tf") * F.col("n_sub")).cast("long").alias(
                "n_subwords"
            ),
            (
                F.round(
                    F.sum(F.col("tf") * F.col("n_ch"))
                    / F.sum(F.col("tf") * F.col("n_sub")),
                    6,
                )
                + F.lit(0.0)
            ).alias("chars_per_token"),
            (
                F.round(
                    F.sum(F.col("tf") * F.col("n_single"))
                    / F.sum(F.col("tf") * F.col("n_sub")),
                    6,
                )
                + F.lit(0.0)
            ).alias("fallback_rate"),
        )
    )
    return n_docs.join(metrics, source_col, "left").select(
        source_col,
        "n_docs",
        F.coalesce("n_words", F.lit(0).cast("long")).alias("n_words"),
        F.coalesce("n_chars", F.lit(0).cast("long")).alias("n_chars"),
        F.coalesce("n_subwords", F.lit(0).cast("long")).alias("n_subwords"),
        "chars_per_token",
        "fallback_rate",
    )


def bpe_token_ids(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    append_eod: bool = True,
) -> tuple[DataFrame, dict[str, int]]:
    """Encode every document to its TOKEN-ID sequence under a fixed
    merge list — the step between a learned tokenizer and the binary
    training shards (:mod:`~hnsw_vector_db_spark.sources.token_shards`).

    Vocabulary: the distinct symbols of the post-merge segmentation,
    numbered 0.. in lexicographic order — a pure function of (corpus,
    merges), so an independent engine re-derives the identical id map
    (the ``token_shards`` driver oracle does, via row_number over the
    distinct-symbol set). The symbol inventory is provably tiny
    (distinct characters + at most ``len(merges)`` merged units), so
    collecting it to build the literal lookup map is the same bounded
    collect class as every centroid/codebook collect.

    Scale shape: merge folds run over the DISTINCT-WORD table only
    (:func:`bpe_segment`'s Zipf collapse); the raw stream is touched
    once for the (doc, pos, word) explode and once for the final join;
    per-doc assembly is one keyed aggregation (array_sort of (pos, ids)
    structs, then flatten — order restored without a window).

    Returns ``(df, vocab)``: df = (id_col, ids array<long>) with the
    reserved end-of-document id ``len(vocab)`` appended when
    ``append_eod`` (the trainer convention — document boundaries must
    survive packing); vocab = symbol -> id."""
    wtf = docs.select(
        F.col(id_col), F.posexplode(tokens(text_col)).alias("pos", "word")
    )
    vocab_words = wtf.select("word").distinct()
    # one Arrow stage applies every merge in order (see
    # _segment_words_applied — replaces the interpreted fold chain)
    seg = _segment_words_applied(vocab_words, merges)
    # r13 (guide §1.2): the segmented table is vocabulary-sized (the
    # Zipf collapse bpe_train already exploits with its guarded
    # collect), and BOTH consumers — the symbol inventory and the
    # word -> ids map — are pure functions of it. ONE bounded collect
    # replaces the previous localCheckpoint job + separate
    # distinct-symbol collect job, and the word -> ids map is computed
    # driver-side and re-enters the plan as a parallelized local
    # relation joined below (a broadcast join only while the relation
    # is under spark.sql.autoBroadcastJoinThreshold, otherwise a
    # shuffle join) instead of a per-row map-lookup transform. Same vocab (distinct symbols, sorted), same
    # per-word id sequences, one less Spark job per call. Guarded by
    # the same cap class as bpe_train: over the cap we keep the fully
    # distributed two-job form.
    seg_rows = None
    if _BPE_TOKEN_IDS_COLLECT_CAP is not None:
        seg_rows = bounded_collect(seg, _BPE_TOKEN_IDS_COLLECT_CAP, None)
    spark = docs.sparkSession
    if seg_rows is not None:
        syms = sorted({s for r in seg_rows for s in r["syms"]})
        vocab = {s: i for i, s in enumerate(syms)}
        word_ids = spark.createDataFrame(
            [(r["word"], [vocab[s] for s in r["syms"]]) for r in seg_rows],
            "word string, wids array<long>",
        )
    else:
        seg = seg.localCheckpoint()  # reused twice below: symbol scan + join
        # bounded collect: |distinct chars| + |merges| symbols
        syms = sorted(
            r["s"]
            for r in seg.select(F.explode("syms").alias("s")).distinct().collect()
        )
        vocab = {s: i for i, s in enumerate(syms)}
        id_map = F.create_map(
            *[F.lit(x) for kv in vocab.items() for x in (kv[0], kv[1])]
        )
        word_ids = seg.select(
            "word",
            F.transform(
                F.col("syms"), lambda s: id_map[s].cast("long")
            ).alias("wids"),
        )
    eod = [F.lit(len(vocab)).cast("long")] if append_eod else []
    per_doc = (
        wtf.join(word_ids, "word")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("wids")))
            ).alias("pw")
        )
        .select(
            id_col,
            F.concat(
                F.flatten(F.transform(F.col("pw"), lambda x: x["wids"])),
                F.array(*eod) if eod else F.array().cast("array<long>"),
            ).alias("ids"),
        )
    )
    return per_doc, vocab


# ---------------------------------------------------------------------------
# Byte-level tier (GPT-2 family, Radford et al. 2019) — every input
# representable, nothing dropped: the ingress-coercion contract the
# reference applies to vectors (`api/rest/server.py:139`, every payload
# coerced to the index dtype) applied to text.
# ---------------------------------------------------------------------------


def byte_char_table() -> "dict[int, str]":
    """The published GPT-2 byte <-> printable-unicode bijection: bytes
    that are visually printable latin-1 map to themselves; the rest map
    to codepoints 256+n in byte order. Makes every byte a SYMBOL the
    merge machinery can treat as text (no whitespace/control ambiguity),
    and is exactly invertible — the foundation of lossless decode."""
    keep = set(
        list(range(ord("!"), ord("~") + 1))
        + list(range(0xA1, 0xAC + 1))
        + list(range(0xAE, 0xFF + 1))
    )
    table: dict[int, str] = {}
    n = 0
    for b in range(256):
        if b in keep:
            table[b] = chr(b)
        else:
            table[b] = chr(256 + n)
            n += 1
    return table


def text_pieces(s: "Column | str") -> Column:
    """Lossless pre-tokenization: alternating whitespace/non-whitespace
    runs (PIECE_RE tiles the string, so concat(pieces) == text). DuckDB
    twin: ``regexp_extract_all(text, '\\s+|\\S+')``."""
    c = F.col(s) if isinstance(s, str) else s
    return F.regexp_extract_all(c, F.lit(PIECE_RE), F.lit(0))


def _piece_syms(piece: str, b2c: "dict[int, str]") -> "list[str]":
    return [b2c[b] for b in piece.encode("utf-8")]


def byte_bpe_train(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_collect_pieces: "int | None" = 10_000_000,
    min_freq: int = 1,
) -> list[tuple[str, str, int]]:
    """Learn byte-level BPE merges: pieces -> UTF-8 bytes -> printable
    symbols -> :func:`train_merges` over the distinct-PIECE histogram.
    No end-of-word marker (the GPT-2 convention — piece boundaries are
    structural: merges simply never cross pieces). Same scale shape as
    :func:`bpe_train`: ONE distributed pass collapses the corpus to the
    piece histogram (whitespace runs collapse to almost nothing — ' '
    is one row); the merge loop is driver-side over that bounded table.
    ``min_freq`` cuts the histogram tail before the collect — see
    :func:`_min_freq_cut` for the documented approximation contract."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    pf = (
        docs.select(F.explode(text_pieces(text_col)).alias("piece"))
        .groupBy("piece")
        .agg(F.count(F.lit(1)).alias("pf"))
    )
    rows = bounded_collect(
        _min_freq_cut(pf, "pf", min_freq),
        max_collect_pieces,
        _histogram_cap_error("piece-freq", "max_collect_pieces", max_collect_pieces),
    )
    b2c = byte_char_table()
    seqs = [(_piece_syms(r["piece"], b2c), int(r["pf"])) for r in rows]
    return train_merges(seqs, n_merges)


def byte_bpe_vocab(
    merges: "list[tuple[str, str, int]] | list[tuple[str, str]]",
) -> "dict[str, int]":
    """symbol -> id: ids 0..255 are the byte symbols AT THEIR BYTE VALUE
    (the GPT-2 layout — a byte-BPE vocab needs no data to number its
    base), then one id per merge in learned order. Id 256+len(merges) is
    reserved for end-of-document. If two merges fuse to the same string
    (possible: (a,bc) and (ab,c)), the FIRST keeps the id — decode is
    unaffected because both ids would spell the same text."""
    b2c = byte_char_table()
    vocab = {b2c[b]: b for b in range(256)}
    for i, m in enumerate(merges):
        vocab.setdefault(m[0] + m[1], 256 + i)
    return vocab


def _min_rank_encode(
    syms: "list[str]", ranks: "dict[tuple[str, str], int]"
) -> "list[str]":
    """The published byte-BPE ENCODE (GPT-2/HF): repeatedly fuse the
    lowest-rank adjacent pair present (all its occurrences,
    leftmost-first) until no learned pair remains. O(len^2) in the piece
    length, independent of vocab size — which is why production encoders
    use it instead of replaying 32k merges in order. Segmentations can
    differ from apply-in-order on adversarial inputs, but decode(encode)
    is the identity under EITHER (symbols always spell the same bytes) —
    the property the roundtrip oracle pins."""
    while len(syms) >= 2:
        best = None
        for a, b in zip(syms, syms[1:]):
            r = ranks.get((a, b))
            if r is not None and (best is None or r < best[0]):
                best = (r, a, b)
        if best is None:
            break
        syms = _merge_pair(syms, best[1], best[2])
    return syms


def _encode_piece_table(
    pieces: DataFrame,
    merges: "list[tuple[str, str, int]] | list[tuple[str, str]]",
    vocab: "dict[str, int]",
) -> DataFrame:
    """Run the min-rank encoder over a DISTINCT-piece table
    (Arrow-batched mapInPandas — the one Python stage of the byte tier,
    and it only ever sees the Zipf-collapsed piece vocabulary):
    ``(piece) -> (piece, pids array<long>)``. Shared by
    :func:`byte_bpe_encode` and :func:`byte_tokenizer_stats`."""
    import pandas as pd

    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    ensure_package_shipped(pieces.sparkSession)
    ranks: dict[tuple[str, str], int] = {}
    for i, m in enumerate(merges):
        ranks.setdefault((m[0], m[1]), i)

    def _enc(batches):
        install_zip_guard()
        b2c = byte_char_table()
        for pdf in batches:
            out = []
            for piece in pdf["piece"]:
                syms = _min_rank_encode(_piece_syms(piece, b2c), ranks)
                out.append([vocab[s] for s in syms])
            yield pd.DataFrame({"piece": pdf["piece"], "pids": out})

    return pieces.mapInPandas(_enc, "piece string, pids array<long>")


def byte_tokenizer_stats(
    docs: DataFrame,
    merges: "list[tuple[str, str, int]] | list[tuple[str, str]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-SOURCE readiness report for the BYTE-LEVEL tokenizer — the
    :func:`tokenizer_stats` twin for the production (GPT-2-family)
    tokenizer a trainer actually mounts: docs, pieces, bytes, emitted
    tokens, BYTES-per-token (the compression each source gets), and the
    SINGLE-BYTE-ID rate — the fraction of emitted ids < 256, i.e. bytes
    the merge vocabulary failed to fuse (the byte tier's analog of
    char-fallback/OOV: there is no out-of-vocabulary state by
    construction, so un-fused single bytes are where an under-trained
    or foreign-corpus tokenizer shows up, and a source with a high rate
    pays more tokens per byte).

    Scale shape: one (source, piece) tf collapse over the raw stream,
    the min-rank encoder over the DISTINCT-piece table only
    (:func:`_encode_piece_table`), one broadcast-sized join back, one
    source-keyed aggregate. Every source appears exactly once (the
    left-join-from-doc-counts rule): an all-empty source reports zero
    counts with NULL ratios."""
    vocab = byte_bpe_vocab(merges)
    ptf = (
        docs.select(
            F.col(source_col), F.explode(text_pieces(text_col)).alias("piece")
        )
        .groupBy(source_col, "piece")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    sized = _encode_piece_table(
        ptf.select("piece").distinct(), merges, vocab
    ).select(
        "piece",
        F.size("pids").alias("n_sub"),
        F.size(F.filter(F.col("pids"), lambda x: x < 256)).alias("n_single"),
        F.octet_length("piece").alias("n_b"),
    )
    n_docs = docs.groupBy(source_col).agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    metrics = (
        ptf.join(sized, "piece")
        .groupBy(source_col)
        .agg(
            F.sum("tf").cast("long").alias("n_pieces"),
            F.sum(F.col("tf") * F.col("n_b")).cast("long").alias("n_bytes"),
            F.sum(F.col("tf") * F.col("n_sub")).cast("long").alias(
                "n_tokens"
            ),
            (
                F.round(
                    F.sum(F.col("tf") * F.col("n_b"))
                    / F.sum(F.col("tf") * F.col("n_sub")),
                    6,
                )
                + F.lit(0.0)
            ).alias("bytes_per_token"),
            (
                F.round(
                    F.sum(F.col("tf") * F.col("n_single"))
                    / F.sum(F.col("tf") * F.col("n_sub")),
                    6,
                )
                + F.lit(0.0)
            ).alias("single_byte_rate"),
        )
    )
    return n_docs.join(metrics, source_col, "left").select(
        source_col,
        "n_docs",
        F.coalesce("n_pieces", F.lit(0).cast("long")).alias("n_pieces"),
        F.coalesce("n_bytes", F.lit(0).cast("long")).alias("n_bytes"),
        F.coalesce("n_tokens", F.lit(0).cast("long")).alias("n_tokens"),
        "bytes_per_token",
        "single_byte_rate",
    )


def byte_bpe_encode(
    docs: DataFrame,
    merges: "list[tuple[str, str, int]] | list[tuple[str, str]]",
    text_col: str = "text",
    id_col: str = "doc_id",
    append_eod: bool = False,
) -> "tuple[DataFrame, dict[str, int]]":
    """Encode documents to byte-BPE token ids under a fixed merge list.
    Returns ``(df(id_col, ids array<long>), vocab)``.

    Scale shape (the bpe_token_ids pattern at the byte tier): the
    Python encoder runs ONLY over the DISTINCT-PIECE table (Zipf
    collapse; Arrow-batched mapInPandas, one dict-driven pass per
    distinct piece), the raw stream is touched once for the (doc, pos,
    piece) explode and once for the final join, and per-doc assembly is
    one keyed aggregation (array_sort of (pos, ids) structs + flatten).
    Unlike the word-level tier there is NO out-of-vocabulary state:
    every byte is id<256 by construction, so arbitrary binary-ish text
    encodes without loss."""
    vocab = byte_bpe_vocab(merges)
    wtf = docs.select(
        F.col(id_col), F.posexplode(text_pieces(text_col)).alias("pos", "piece")
    )
    piece_ids = _encode_piece_table(
        wtf.select("piece").distinct(), merges, vocab
    )
    eod = (
        [F.lit(256 + len(merges)).cast("long")] if append_eod else []
    )
    per_doc = (
        wtf.join(piece_ids, "piece")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("pids")))
            ).alias("pw")
        )
        .select(
            id_col,
            F.concat(
                F.flatten(F.transform(F.col("pw"), lambda x: x["pids"])),
                F.array(*eod) if eod else F.array().cast("array<long>"),
            ).alias("ids"),
        )
    )
    # documents with NO pieces (empty text) vanish in the wtf explode;
    # re-attach them with an empty (or EOD-only) stream — lossless decode
    # must round-trip the empty document too
    empties = docs.join(wtf.select(id_col).distinct(), id_col, "left_anti")
    empty_ids = F.array(*eod) if eod else F.array().cast("array<long>")
    return (
        per_doc.unionByName(
            empties.select(F.col(id_col), empty_ids.alias("ids"))
        ),
        vocab,
    )


def byte_bpe_decode(
    ids_df: DataFrame,
    merges: "list[tuple[str, str, int]] | list[tuple[str, str]]",
    id_col: str = "doc_id",
    ids_col: str = "ids",
) -> DataFrame:
    """LOSSLESS detokenization: ids -> symbols -> printable chars ->
    UTF-8 bytes -> text. The exact inverse of :func:`byte_bpe_encode`
    (``decode(encode(text)) == text`` for any input — the reversibility
    property a trainer debugs with; the bpe_bytes_roundtrip driver
    oracle pins it corpus-wide against the raw text). The reserved
    end-of-document id (256+len(merges)) is dropped as a boundary
    marker; any OTHER unknown id raises with the id named — a silently
    skipped token is corrupted text with no error signature.

    Arrow-batched mapInPandas; embarrassingly parallel per row."""
    from hnsw_vector_db_spark.session import ensure_package_shipped, install_zip_guard

    import pandas as pd

    ensure_package_shipped(ids_df.sparkSession)
    vocab = byte_bpe_vocab(merges)
    id2sym: dict[int, str] = {}
    for s, i in vocab.items():
        id2sym.setdefault(i, s)
    eod_id = 256 + len(merges)

    def _dec(batches):
        install_zip_guard()
        c2b = {c: b for b, c in byte_char_table().items()}
        for pdf in batches:
            texts = []
            for ids in pdf[ids_col]:
                chunks = []
                for i in ids:
                    i = int(i)
                    if i == eod_id:
                        continue
                    sym = id2sym.get(i)
                    if sym is None:
                        raise ValueError(
                            f"byte_bpe_decode: unknown token id {i} "
                            f"(vocab size {eod_id}) — corrupted stream"
                        )
                    chunks.append(sym)
                data = bytes(c2b[ch] for ch in "".join(chunks))
                texts.append(data.decode("utf-8"))
            yield pd.DataFrame({id_col: pdf[id_col], "text": texts})

    return ids_df.mapInPandas(_dec, f"{id_col} long, text string")


def save_byte_tokenizer(
    merges: "list[tuple[str, str, int]] | list[tuple[str, str]]",
    path: str,
) -> None:
    """Persist a byte-level tokenizer as a JSON artifact — the file a
    trainer ships NEXT TO the token shards (the tokenizer.json role in
    public trainer stacks): ordered merges (with supports when known)
    plus the derived vocab size. Kilobytes by construction (the vocab
    is 256 + one entry per merge), so this is a DRIVER-side write; it
    lands via temp-file + ``os.replace`` (atomic on POSIX — the
    ``_LATEST`` pointer rule), never a torn artifact."""
    import json
    import os

    payload = {
        "format": "byte-bpe-v1",
        "merges": [list(m[:2]) + ([int(m[2])] if len(m) > 2 else [])
                   for m in merges],
        "vocab_size": 256 + len(merges) + 1,  # + reserved EOD id
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, ensure_ascii=False)
    os.replace(tmp, path)


def load_byte_tokenizer(path: str) -> list[tuple]:
    """Load a :func:`save_byte_tokenizer` artifact back into the merge
    list every byte-tier function consumes. Validates the format tag
    and the vocab-size consistency — a wrong or corrupted artifact
    raises with the path named, because silently tokenizing with the
    wrong vocab is corrupted training data with no error signature."""
    import json

    with open(path) as fh:
        payload = json.load(fh)
    if payload.get("format") != "byte-bpe-v1":
        raise ValueError(
            f"{path}: not a byte-bpe-v1 tokenizer artifact "
            f"(format={payload.get('format')!r})"
        )
    raw = payload.get("merges")
    if not isinstance(raw, list):
        raise ValueError(f"{path}: merges is not a list")
    merges = []
    for i, m in enumerate(raw):
        # shape validation per the named-error convention: a malformed
        # entry must fail HERE with the path named, not as an opaque
        # IndexError/TypeError inside byte_bpe_vocab/ranks downstream
        if (
            not isinstance(m, list)
            or len(m) not in (2, 3)
            or not isinstance(m[0], str)
            or not isinstance(m[1], str)
            or (len(m) == 3 and type(m[2]) is not int)  # bool is an int
        ):
            raise ValueError(
                f"{path}: merges[{i}] = {m!r} is not a "
                f"[left: str, right: str] or [left, right, support: int] "
                f"entry — corrupted or foreign artifact"
            )
        merges.append(tuple(m))
    expect = 256 + len(merges) + 1
    if payload.get("vocab_size") != expect:
        raise ValueError(
            f"{path}: vocab_size {payload.get('vocab_size')} does not "
            f"match {len(merges)} merges (expected {expect})"
        )
    return merges


def save_word_tokenizer(
    merges: "list[tuple[str, str, int]] | list[tuple[str, str]]",
    path: str,
) -> None:
    """Persist a WORD-level tokenizer (:func:`bpe_train` output) as a
    JSON artifact — the byte tier's :func:`save_byte_tokenizer` contract
    applied to the word tier (the r11 verdict's asymmetry: the byte
    artifact existed, the word one did not). Ordered merges with
    supports when known, plus the merge count as the consistency field
    (the word tier has no closed-form vocab size — its symbol alphabet
    is corpus-dependent, unlike the byte tier's 256+merges). Driver-side
    kilobytes; temp-file + ``os.replace`` (atomic on POSIX), never a
    torn artifact."""
    import json
    import os

    payload = {
        "format": "word-bpe-v1",
        "merges": [list(m[:2]) + ([int(m[2])] if len(m) > 2 else [])
                   for m in merges],
        "n_merges": len(merges),
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, ensure_ascii=False)
    os.replace(tmp, path)


def load_word_tokenizer(path: str) -> list[tuple]:
    """Load a :func:`save_word_tokenizer` artifact back into the merge
    list :func:`bpe_segment` / :func:`bpe_token_ids` consume — the
    byte tier's :func:`load_byte_tokenizer` validation contract:
    format tag, per-entry shape with the path named, and the
    n_merges consistency field. A silently mis-loaded merge list is
    corrupted training data with no error signature."""
    import json

    with open(path) as fh:
        payload = json.load(fh)
    if payload.get("format") != "word-bpe-v1":
        raise ValueError(
            f"{path}: not a word-bpe-v1 tokenizer artifact "
            f"(format={payload.get('format')!r})"
        )
    raw = payload.get("merges")
    if not isinstance(raw, list):
        raise ValueError(f"{path}: merges is not a list")
    merges = []
    for i, m in enumerate(raw):
        if (
            not isinstance(m, list)
            or len(m) not in (2, 3)
            or not isinstance(m[0], str)
            or not isinstance(m[1], str)
            or (len(m) == 3 and type(m[2]) is not int)  # bool is an int
        ):
            raise ValueError(
                f"{path}: merges[{i}] = {m!r} is not a "
                f"[left: str, right: str] or [left, right, support: int] "
                f"entry — corrupted or foreign artifact"
            )
        merges.append(tuple(m))
    if payload.get("n_merges") != len(merges):
        raise ValueError(
            f"{path}: n_merges {payload.get('n_merges')} does not match "
            f"{len(merges)} merge entries"
        )
    return merges


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge list to a corpus: per document, the subword
    count before/after and the compression ratio. Application chains the
    SAME codegen merge fold once per merge over the distinct-word table,
    then joins token counts back by word — the raw stream is touched
    exactly twice (tf collapse, final join), never per merge.

    Output (id, n_words, n_chars, n_subwords, compression)."""
    wtf = (
        docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = wtf.select("word").distinct()
    # one Arrow stage applies every merge in order (see
    # _segment_words_applied — replaces the interpreted fold chain)
    seg = _segment_words_applied(vocab, merges)
    sized = seg.select(
        "word", (F.size("syms")).alias("n_sub"), F.length("word").alias("n_ch")
    )
    return (
        wtf.join(sized, "word")
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("long").alias("n_words"),
            F.sum(F.col("tf") * F.col("n_ch")).cast("long").alias("n_chars"),
            F.sum(F.col("tf") * F.col("n_sub")).cast("long").alias("n_subwords"),
            F.round(
                F.sum(F.col("tf") * F.col("n_ch"))
                / F.sum(F.col("tf") * F.col("n_sub")),
                6,
            ).alias("compression"),
        )
    )
