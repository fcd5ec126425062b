"""Training-corpus preparation operators (north-star extension): the
stages a large-scale LLM-data pipeline runs BETWEEN raw text and
training shards that the dedup/similarity families don't cover --
benchmark decontamination, C4-style span dedup, Gopher-style quality
gates, and fixed-size token chunking.

All built-in string/array/window expressions -- whole-stage-codegen'd,
no Python on any hot path; every output is a pure deterministic function
of the text, reproducible across engines (each operator has an exact
DuckDB oracle in ``plans/trainprep.py``).

Scale notes (100 TB corpus):
- decontamination joins corpus n-grams against the BENCHMARK n-gram set,
  which is tiny (eval sets are at most a few hundred MB) -> the
  benchmark side broadcasts and the corpus pass is map-side only (one
  shuffle for the per-doc overlap count, carrying 8-byte hashes, never
  text);
- span dedup shuffles (span_hash) rows -- the hash, not the span text --
  and the reassembly groupBy is the same shuffle width;
- quality gates and chunking are narrow (zero shuffles): pure per-row
  expressions, so they pipeline into whatever scan feeds them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _cache_aged, portable_base_hash, tokenize, word_shingles
from .similarity import knuth_hash


def _safe_shingles(toks: F.Column, n: int) -> F.Column:
    """word_shingles guarded for docs shorter than ``n`` tokens (the raw
    sequence() would run backwards and index element 0, which throws)."""
    return F.when(F.size(toks) >= n, word_shingles(toks, n)).otherwise(
        F.array().cast("array<string>")
    )


def decontaminate_ngrams(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, how many of its distinct
    word ``n``-grams appear ANYWHERE in the benchmark (eval) set.

    The training-data hygiene step every serious pipeline runs: a corpus
    document sharing long n-grams with a benchmark leaks test data into
    training.  Join key is the 60-bit portable hash of the n-gram (8-byte
    shuffle rows; SQL-replayable), benchmark side is globally distinct
    and broadcast.  Docs shorter than ``n`` tokens have no n-grams and
    report 0 overlap.  Output: ``doc_id, n_overlap, contaminated``.
    """
    from .dedup import _spread

    # Single-file fixture = single-partition scan: the whole corpus
    # shingle explode+hash would run in ONE task (materialized-action
    # profiling measured 15.0s -> 1.9s at sf0.1 from this line alone;
    # _spread passes wide inputs through untouched, so a real corpus
    # pays nothing).
    c_sh = _spread(corpus.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col).alias("doc_id"),
        F.explode_outer(_safe_shingles(tokenize(text_col), n)).alias("s"),
    ).select("doc_id", portable_base_hash(F.col("s")).alias("h"))
    b_sh = (
        benchmark.select(F.explode(_safe_shingles(tokenize(text_col), n)).alias("s"))
        .select(portable_base_hash(F.col("s")).alias("h"))
        .distinct()
    )
    hits = c_sh.join(F.broadcast(b_sh), "h", "left_semi")
    n_overlap = (
        hits.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
    )
    all_docs = corpus.select(F.col(id_col).alias("doc_id"))
    return all_docs.join(n_overlap, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
        (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
    )


def quality_gates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 40,
    max_tokens: int = 100_000,
    min_mean_tok_len: float = 2.0,
    max_mean_tok_len: float = 12.0,
    max_symbol_ratio: float = 0.1,
    min_stop_hits: int = 1,
) -> DataFrame:
    """Gopher-style per-document quality gates: token-count bounds, mean
    token length bounds, symbol-to-char ratio cap, minimum stopword hits.

    Each gate is its own boolean column so a pipeline can inspect WHY a
    document failed (the aggregate pass rate per gate is the standard
    corpus-health dashboard); ``passes`` is their conjunction.  All
    arithmetic is integer counts or 4dp half-up-rounded ratios --
    bit-identical across engines.  Output: ``doc_id, n_tokens,
    mean_tok_len, symbol_ratio, n_stop_hits, gate_len, gate_tok_len,
    gate_symbols, gate_stops, passes``.
    """
    from .textstats import round_half_up

    stops = ["the", "a", "of", "to", "and", "in", "is"]
    toks = tokenize(text_col)
    n_chars = F.length(F.col(text_col))
    n_tokens = F.size(toks)
    symbols = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[^\w\s]", ""))
    mean_tok_len = round_half_up((n_chars - (n_tokens - 1)) / n_tokens, 4)
    # Empty text (n_chars = 0) is exactly the garbage a gate exists to
    # reject -- it must flow through as ratio 0.0 and fail gate_len, not
    # raise DIVIDE_BY_ZERO under ANSI mode (Spark 4 default) or emit an
    # oracle-diverging NULL with ANSI off.
    symbol_ratio = F.when(n_chars > 0, round_half_up(symbols / n_chars, 4)).otherwise(
        F.lit(0.0)
    )
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in stops])))
    gate_len = (n_tokens >= min_tokens) & (n_tokens <= max_tokens)
    gate_tok_len = (mean_tok_len >= min_mean_tok_len) & (mean_tok_len <= max_mean_tok_len)
    gate_symbols = symbol_ratio <= max_symbol_ratio
    gate_stops = n_stop >= min_stop_hits
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tokens.cast("long").alias("n_tokens"),
        mean_tok_len.alias("mean_tok_len"),
        symbol_ratio.alias("symbol_ratio"),
        n_stop.cast("long").alias("n_stop_hits"),
        gate_len.alias("gate_len"),
        gate_tok_len.alias("gate_tok_len"),
        gate_symbols.alias("gate_symbols"),
        gate_stops.alias("gate_stops"),
        (gate_len & gate_tok_len & gate_symbols & gate_stops).alias("passes"),
    )


def span_dedup(
    df: DataFrame, id_col: str, text_col: str, span: int = 10
) -> DataFrame:
    """C4-style global span dedup: split each document into non-overlapping
    ``span``-token windows, keep only the FIRST occurrence of each
    distinct span across the whole corpus (ordered by doc then position),
    and reassemble the surviving text per document.

    This is the repetition/boilerplate removal stage (C4 dropped
    duplicate three-sentence spans corpus-wide).  The dedup window
    partitions on the 60-bit span hash -- the shuffle carries
    ``(hash, doc, span_no)`` rows, never the span text twice -- and
    survivor choice is deterministic (lowest ``(doc, span_no)`` wins).
    Output: ``doc_id, n_spans, n_kept, kept_text``.
    """
    toks = tokenize(text_col)
    n_spans = F.ceil(F.size(toks) / F.lit(span)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * span + 1, span)),
    )
    exploded = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(spans).alias("span_no", "span_text")
    ).withColumn("h", portable_base_hash(F.col("span_text")))
    w = Window.partitionBy("h").orderBy(F.asc("doc_id"), F.asc("span_no"))
    # Single corpus scan: the window ranks every span, the per-doc
    # aggregate then counts ALL spans (n_spans) and the rn=1 survivors
    # (n_kept / kept_text) in one pass -- a separate totals branch would
    # scan the text a second time, the dominant cost at corpus scale.
    # Every doc has >= 1 span (split() of any string yields >= 1 token),
    # so no doc can drop out of the aggregate.
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    is_kept = F.col("rn") == 1
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(is_kept.cast("long")).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(is_kept, F.struct(F.col("span_no"), F.col("span_text")))
                    )
                ),
                lambda s: s.getField("span_text"),
            ),
        ).alias("kept_text"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window_tokens: int = 64,
    num_partitions: int | None = None,
) -> DataFrame:
    """GPT-style sequence packing: concatenate all documents' tokens in
    ``id_col`` order and cut the stream into fixed ``window_tokens``
    context windows; emit each (window, doc) overlap span.

    The global token offset per document is an ordered prefix sum -- a
    bare ``Window.orderBy`` would funnel the corpus through ONE task, so
    this uses the ``global_ntile`` two-phase scheme: approximate
    percentile splits of ``id_col`` range-partition the docs as a PURE
    function of the id (split accuracy affects only load balance, never
    results), per-partition token totals (P tiny rows) collect to exact
    broadcast base offsets, and the within-partition cumsum is an
    ordinary partitioned window.  Output: ``window_id, doc_id,
    tok_start, n_toks`` where ``tok_start`` indexes into the DOCUMENT's
    tokens and ``n_toks`` is the span length inside that window.
    """
    spark = df.sparkSession
    P = num_partitions or spark.sparkContext.defaultParallelism
    # Cached through the shared aged registry: the percentile job, the
    # per-partition sums collect, and the final plan all read src -- an
    # uncached frame would tokenize the full corpus three times.
    src = _cache_aged(
        "pack_src",
        df.select(
            F.col(id_col).alias("doc_id"),
            F.size(tokenize(text_col)).cast("long").alias("n_toks"),
        ),
    )
    from .windows import range_partition_ids

    ranged = range_partition_ids(src, "doc_id", P)
    sums = {
        r["__pid"]: r["t"]
        for r in ranged.groupBy("__pid").agg(F.sum("n_toks").alias("t")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(sums):
        offsets.append((pid, acc))
        acc += sums[pid]
    off_df = spark.createDataFrame(offsets or [(0, 0)], "__pid int, __base long")
    w = (
        Window.partitionBy("__pid")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = (
        ranged.join(F.broadcast(off_df), "__pid")
        .withColumn(
            "__off", F.col("__base") + F.coalesce(F.sum("n_toks").over(w), F.lit(0))
        )
        .drop("__pid", "__base")
    )
    W_ = F.lit(window_tokens)
    first_w = F.floor(F.col("__off") / W_)
    last_w = F.floor((F.col("__off") + F.col("n_toks") - 1) / W_)
    spans = placed.select(
        "doc_id",
        "n_toks",
        "__off",
        F.explode(F.sequence(first_w, last_w)).alias("window_id"),
    )
    lo = F.greatest(F.col("__off"), F.col("window_id") * W_)
    hi = F.least(F.col("__off") + F.col("n_toks"), (F.col("window_id") + 1) * W_)
    return spans.select(
        F.col("window_id").cast("long").alias("window_id"),
        "doc_id",
        (lo - F.col("__off")).cast("long").alias("tok_start"),
        (hi - lo).cast("long").alias("n_toks"),
    )


def token_budget_sample(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    budget_tokens: int,
    hash_buckets: int = 64,
) -> DataFrame:
    """Per-group token-budget sampling (data-mixing quotas): within each
    group (language/source/domain), take documents in deterministic
    pseudo-random order (Knuth hash of the id) until the group's token
    budget is reached; a doc is selected iff it STARTS before the budget
    line, so every group overshoots by at most one document.

    Scale shape: a per-group ``Window.orderBy`` would serialize each
    group through one task (10 languages over 100 TB = 10 TB tasks), so
    the hash order is split into ``hash_buckets`` STATIC equal ranges --
    bucket index is a pure function of the hash, buckets are ordered, so
    (bucket, hash, id) is the same total order -- with per-(group,
    bucket) token sums (tiny) collected into exact broadcast base
    offsets and an ordinary partitioned window inside each bucket.
    Output: ``doc_id, group, n_toks, cum_before, selected`` (0/1).
    """
    spark = df.sparkSession
    # __g: null-safe join key (an equi-join on the raw group would drop
    # every NULL-group document -- the oracle's PARTITION BY keeps them).
    src = _cache_aged(
        "budget_src",
        df.select(
            F.col(id_col).alias("doc_id"),
            F.col(group_col).alias("group"),
            F.size(tokenize(text_col)).cast("long").alias("n_toks"),
        )
        .withColumn("__g", F.coalesce(F.col("group").cast("string"), F.lit("\x00null")))
        .withColumn("__h", knuth_hash(F.col("doc_id"))),
    )
    bucket_width = (2**31) // hash_buckets + 1
    src = src.withColumn("__b", F.floor(F.col("__h") / F.lit(bucket_width)).cast("int"))
    sums = (
        src.groupBy("__g", "__b").agg(F.sum("n_toks").alias("t")).collect()
    )
    per_group: dict = {}
    for r in sums:
        per_group.setdefault(r["__g"], []).append((r["__b"], r["t"]))
    offsets = []
    for g, pairs in per_group.items():
        acc = 0
        for b, t in sorted(pairs):
            offsets.append((g, b, acc))
            acc += t
    off_df = spark.createDataFrame(offsets or [("", 0, 0)], "__g string, __b int, __base long")
    w = (
        Window.partitionBy("__g", "__b")
        .orderBy("__h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = src.join(F.broadcast(off_df), ["__g", "__b"]).withColumn(
        "cum_before", F.col("__base") + F.coalesce(F.sum("n_toks").over(w), F.lit(0))
    )
    return placed.select(
        "doc_id",
        "group",
        "n_toks",
        F.col("cum_before").cast("long").alias("cum_before"),
        (F.col("cum_before") < budget_tokens).cast("long").alias("selected"),
    )


def chunk_documents(
    df: DataFrame, id_col: str, text_col: str, chunk_tokens: int = 16
) -> DataFrame:
    """Fixed-size token chunking: split each document into consecutive
    ``chunk_tokens``-token pieces (trailing partial chunk kept) -- the
    shard-preparation step before tokenizer packing.

    Narrow (ZERO shuffles): sequence + slice + posexplode are all per-row
    expressions, so chunking pipelines directly into the scan and the
    downstream writer controls output partitioning.  Output: ``doc_id,
    chunk_no, n_tokens, chunk_text``.
    """
    toks = tokenize(text_col)
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(toks, i * chunk_tokens + 1, chunk_tokens),
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(chunks).alias("chunk_no", "chunk_toks"),
    ).select(
        "doc_id",
        F.col("chunk_no").cast("long").alias("chunk_no"),
        F.size(F.col("chunk_toks")).cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.col("chunk_toks")).alias("chunk_text"),
    )


def weighted_sample(
    df: DataFrame, id_col: str, weight_col: str, k: int
) -> DataFrame:
    """Deterministic weight-biased top-k sample: priority =
    ``portable_hash(id) div weight`` (integer division), keep the k
    smallest.  A document with twice the weight halves its priority
    scale, so expected inclusion grows ~linearly with weight -- the
    linearized stand-in for Efraimidis-Spirakis exponential priorities
    (``-ln(u)/w``), whose transcendental pow/ln would put the hash
    contract at the mercy of libm.  All-integer arithmetic: the sample
    is bit-identical on any engine and REPRODUCIBLE run-to-run -- the
    property a training-data pipeline needs from its sampling stage
    (re-runs must emit the same corpus).

    One scan + TakeOrderedAndProject (no global sort); rows whose weight
    is NULL or non-positive AFTER the integer cast are excluded (a
    fractional weight in (0, 1) truncates to 0 and would otherwise
    divide-to-NULL and sort FIRST -- r8 review finding; quantize
    fractional weights before calling).  Output: ``<id>, <weight>,
    priority``.
    """
    hashed = df.select(
        F.col(id_col),
        F.col(weight_col).cast("long").alias("__w"),
        portable_base_hash(F.col(id_col).cast("string")).alias("__h"),
    ).filter(F.col("__w") > 0)
    return (
        hashed.select(
            id_col,
            F.col("__w").alias(weight_col),
            F.expr("__h div __w").alias("priority"),
        )
        .orderBy("priority", id_col)
        .limit(k)
    )


def weighted_sample_per_group(
    df: DataFrame, id_col: str, weight_col: str, group_col: str, k_per_group: int
) -> DataFrame:
    """Per-group deterministic weight-biased top-k -- the training-MIX
    shape: k docs from EACH source/domain, weight-biased within the
    group (a global top-k lets one dominant source crowd out the rest;
    data-mixture recipes fix per-source quotas first, then sample
    within).  Same integer priority as ``weighted_sample``; the group
    cut is one ranked window partitioned by the group key -- bounded
    per-group state, no global sort.  Output: ``<group>, <id>,
    <weight>, priority, rk``.
    """
    hashed = df.select(
        F.col(group_col),
        F.col(id_col),
        F.col(weight_col).cast("long").alias("__w"),
        portable_base_hash(F.col(id_col).cast("string")).alias("__h"),
    ).filter(F.col("__w") > 0)
    pri = hashed.select(
        group_col,
        id_col,
        F.col("__w").alias(weight_col),
        F.expr("__h div __w").alias("priority"),
    )
    w = Window.partitionBy(group_col).orderBy("priority", id_col)
    return (
        pri.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k_per_group)
    )


def bpe_learn_merges(
    df: DataFrame,
    text_col: str,
    rounds: int,
    end_marker: str = "</w>",
    return_symbols: bool = False,
) -> "list[tuple[int, str, str, int]] | tuple[list, DataFrame]":
    """Learn ``rounds`` byte-pair-encoding merges from a corpus -- the
    tokenizer-TRAINING inner loop (Sennrich et al.): count adjacent
    symbol pairs over the word-frequency table, take the most frequent
    pair (ties -> lexicographic (x, y) ascending, so the learned
    vocabulary is deterministic), merge its occurrences greedily
    left-to-right in every word, repeat.

    Distributed shape: BPE trains on the DISTINCT-WORD table, not the
    corpus -- one tokenize+groupBy collapses 100 TB of text into a
    bounded word-frequency frame, and every round after that runs over
    the per-word SYMBOL table (sum of word lengths rows, partitioned by
    word).  Per round: one lead() window pass feeds BOTH the pair count
    (map-side-combinable sum) and the merge; the winning pair comes
    back to the driver as ONE row (the same bounded-reduce pattern as
    the k-means centroid collect); the greedy merge is two window
    passes + two broadcast-shaped left anti/semi joins, all keyed by
    word (checkpoint chain: ``loop.py``).

    Greedy left-to-right semantics, exactly: within each maximal RUN of
    consecutive match positions, every other position starting from the
    run head merges (overlapping matches share an element only when
    their positions differ by 1, so alternate selection IS the greedy
    scan).  The whole loop replays as unrolled MATERIALIZED CTEs in
    DuckDB -- integer positions and string concat only, no floats.

    Words carry the ``end_marker`` as a final SYMBOL (multi-char, so it
    can never collide with a real character), the standard convention
    that keeps merges from crossing word boundaries when the vocabulary
    is applied.

    Returns the learned merge table as driver-side rows
    ``(merge_round, x, y, cnt)`` -- at most ``rounds`` entries, fewer
    if the corpus runs out of pairs.  With ``return_symbols=True``
    returns ``(merges, symbols)`` where ``symbols`` is the final
    post-merge per-word symbol table ``(wid, n, pos, sym)`` -- i.e. the
    ENCODING of every distinct word under the learned vocabulary; the
    frame is localCheckpoint-backed and registered under the pinned-
    cache key ``bpe_symbols`` (released by ``dedup.release_caches``)."""
    from .loop import CheckpointChain

    words = (
        df.select(F.explode(tokenize(text_col)).alias("wid"))
        .groupBy("wid")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    base = words.select(
        "wid",
        "n",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(wid) + 1), "
                f"i -> CASE WHEN i <= length(wid) THEN substring(wid, i, 1) "
                f"ELSE '{end_marker}' END)"
            )
        ).alias("pos", "sym"),
    ).select("wid", "n", F.col("pos").cast("long").alias("pos"), "sym")

    wseq = Window.partitionBy("wid").orderBy("pos")
    # Each round's top-pair collect is the only job per round -- it
    # materializes the round's pending lazy checkpoints (round 1
    # materializes the base).
    #
    # r16: the round's lead()-window frame ``tt`` is ALSO checkpointed
    # (lazily -- the collect materializes it in the same job).  Without
    # it, ``tt`` was an un-shared subtree referenced FOUR times per
    # round (the top-pair agg, the merge-position scan via starts AND
    # drops, and the stepped join's probe side), so the per-word
    # sort+lead pass over the whole symbol table executed 4x per round;
    # ``sel`` (the greedy-scan position picker, two more windows)
    # likewise executed twice via starts/drops.  Both now compute once
    # per round and every other reader hits the persisted RDD -- same
    # results, same one job per round, ~3 fewer window passes over the
    # symbol table per merge round (guide §2.4, duplicated subtrees).
    merges: list[tuple[int, str, str, int]] = []
    with CheckpointChain("bpe_symbols" if return_symbols else None) as chain:
        t = chain.push(base)
        for r in range(1, rounds + 1):
            tt = chain.push(t.withColumn("__nxt", F.lead("sym").over(wseq)))
            top = (
                tt.filter(F.col("__nxt").isNotNull())
                .groupBy("sym", "__nxt")
                .agg(F.sum("n").cast("long").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("sym"), F.asc("__nxt"))
                .limit(1)
                .collect()
            )
            chain.settle()
            if not top:
                # No pair left to merge: the previous symbol table is final.
                t = tt.drop("__nxt")
                break
            x, y, cnt = top[0]["sym"], top[0]["__nxt"], top[0]["cnt"]
            merges.append((r, x, y, int(cnt)))
            m = (
                tt.filter((F.col("sym") == x) & (F.col("__nxt") == y))
                .select("wid", "pos")
                .withColumn("__rn", F.row_number().over(wseq))
                .withColumn("__grp", F.col("pos") - F.col("__rn"))
            )
            sel = chain.push(
                m.withColumn(
                    "__rmin", F.min("pos").over(Window.partitionBy("wid", "__grp"))
                )
                .filter(((F.col("pos") - F.col("__rmin")) % 2) == 0)
                .select("wid", "pos")
            )
            starts = sel.withColumn("__is_start", F.lit(1))
            drops = sel.select(
                "wid", (F.col("pos") + 1).alias("pos"), F.lit(1).alias("__is_drop")
            )
            t = chain.push(
                tt.join(starts, ["wid", "pos"], "left")
                .join(drops, ["wid", "pos"], "left")
                .filter(F.col("__is_drop").isNull())
                .select(
                    "wid",
                    "n",
                    F.col("pos").alias("__oldpos"),
                    F.when(
                        F.col("__is_start") == 1, F.concat(F.col("sym"), F.col("__nxt"))
                    )
                    .otherwise(F.col("sym"))
                    .alias("sym"),
                )
                .withColumn(
                    "pos",
                    (
                        F.row_number().over(
                            Window.partitionBy("wid").orderBy("__oldpos")
                        )
                        - 1
                    ).cast("long"),
                )
                .select("wid", "n", "pos", "sym")
            )
    return (merges, t) if return_symbols else merges


def bpe_encode_stats(
    df: DataFrame,
    text_col: str,
    source_col: str,
    rounds: int,
    end_marker: str = "</w>",
) -> DataFrame:
    """Apply a freshly-learned BPE vocabulary back to the corpus and
    report per-source encoding statistics -- the tokenizer-lifecycle
    step after ``bpe_learn_merges``: a pipeline trains merges, then
    needs to know what the vocabulary DOES to each ingest source
    (tokens per word, chars per token = compression) before committing
    to it.

    The final per-word symbol table from training IS the encoding of
    every distinct word (training's greedy merge loop and encoding with
    the learned merge list produce the same segmentation when applied
    to the same corpus the merges were learned on), so this costs ONE
    extra aggregate over the symbol table plus one corpus token count
    -- no second merge loop.  Token counting convention: a word's
    token count is its post-merge symbol count EXCLUDING a bare
    ``end_marker`` symbol (an unmerged marker is a boundary, not a
    token; a merged symbol that absorbed the marker, e.g. ``'e</w>'``,
    counts -- the standard BPE accounting).

    Exactness: every output is BIGINT counts or half-up fixed-point
    ratios of BIGINT counts (``(2*a*1e6 + b) DIV (2*b)``) -- no floats.

    Scale shape: encoding statistics ride the DISTINCT-WORD table (the
    same collapse that makes training feasible at 100 TB): one
    groupBy over final symbols (rows = sum of word lengths over the
    VOCABULARY, not the corpus), one (source, word) count over the
    corpus explode, one join keyed by word, one per-source aggregate.

    Output, one row per source (source asc): ``source, n_words,
    n_tokens, n_chars, tokens_per_word_micro, chars_per_token_micro``.
    """
    merges, syms = bpe_learn_merges(
        df, text_col, rounds, end_marker=end_marker, return_symbols=True
    )
    wtok = (
        syms.filter(F.col("sym") != end_marker)
        .groupBy("wid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_syms"))
    )
    occ = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(tokenize(text_col)).alias("wid"),
        )
        .groupBy("source", "wid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )
    agg = (
        occ.join(wtok, "wid")
        .groupBy("source")
        .agg(
            F.sum("n_occ").cast("long").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_syms")).cast("long").alias(
                "n_tokens"
            ),
            F.sum(F.col("n_occ") * F.length("wid").cast("long"))
            .cast("long")
            .alias("n_chars"),
        )
    )
    return agg.select(
        "source",
        "n_words",
        "n_tokens",
        "n_chars",
        F.expr(
            "CAST((2 * n_tokens * 1000000 + n_words)"
            " DIV (2 * n_words) AS BIGINT)"
        ).alias("tokens_per_word_micro"),
        F.expr(
            "CAST((2 * n_chars * 1000000 + n_tokens)"
            " DIV (2 * n_tokens) AS BIGINT)"
        ).alias("chars_per_token_micro"),
    ).orderBy("source")


def mutual_information(
    df: DataFrame, pairs: list[tuple[str, str]], cache_key: str = "mi_cells"
) -> DataFrame:
    """Feature-selection audit: mutual information between categorical
    column pairs, ``I(X;Y) = sum_{x,y} p(x,y) * ln(p(x,y) /
    (p(x)p(y)))`` -- the number a training pipeline reads to rank
    candidate features against a label (and to catch a leaking feature:
    MI near the label entropy means X determines Y) before committing
    to an expensive training run.

    Determinism across engines: all probabilities are ratios of exact
    BIGINT counts; each CELL contribution is rounded half-up to NANO
    units (floor(x*1e9+0.5) as BIGINT) before the per-pair sum -- the
    same order-stable fixed-point discipline as ``kl_source_drift`` --
    so float addition order over cells can never change the reported
    MI.  Individual cell terms can be negative (when a cell is rarer
    than independence predicts); the sum is >= 0 up to rounding.

    Scale shape: one map-side-combinable groupBy per pair collapses the
    table to |X|x|Y| cells; the marginals ride those cells as two
    window sums and the total broadcasts as one scalar.  The cell frame
    is cached so the scalar branch does not re-run the scan (the r10
    KL review finding).  Nothing downstream of the first aggregate is
    proportional to row count.

    Output one row per pair: ``feature, label, n_rows, n_cells,
    mi_nano``.
    """
    from functools import reduce

    from pyspark.sql import Window

    from .dedup import _cache_aged

    if not pairs:
        raise ValueError("mutual_information needs at least one column pair")
    outs = []
    for fx, fy in pairs:
        cells = df.groupBy(fx, fy).agg(
            F.count(F.lit(1)).cast("long").alias("c_xy")
        )
        cells = _cache_aged(f"{cache_key}:{fx}:{fy}", cells)
        cells = cells.withColumn(
            "c_x", F.sum("c_xy").over(Window.partitionBy(fx)).cast("long")
        ).withColumn(
            "c_y", F.sum("c_xy").over(Window.partitionBy(fy)).cast("long")
        )
        tot = cells.agg(F.sum("c_xy").cast("long").alias("__N"))
        sc = cells.crossJoin(F.broadcast(tot)).withColumn(
            "__term_fp",
            F.expr(
                "CAST(FLOOR("
                "  (CAST(c_xy AS DOUBLE) / CAST(__N AS DOUBLE))"
                "  * ln((CAST(c_xy AS DOUBLE) * CAST(__N AS DOUBLE))"
                "       / (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)))"
                "  * 1000000000.0D + 0.5D) AS BIGINT)"
            ),
        )
        outs.append(
            sc.agg(
                F.max("__N").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_cells"),
                F.sum("__term_fp").cast("long").alias("mi_nano"),
            ).select(
                F.lit(fx).alias("feature"),
                F.lit(fy).alias("label"),
                "n_rows",
                "n_cells",
                "mi_nano",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), outs)


def feature_hash_audit(
    df: DataFrame, text_col: str, n_buckets: int = 64
) -> DataFrame:
    """Hashing-trick featurization audit: map every token to one of
    ``n_buckets`` signed buckets (the Weinberger et al. feature-hashing
    scheme every wide-vocabulary trainer uses to bound its feature
    space) and report, per bucket, how much vocabulary collides there
    and how much of the signed mass survives cancellation -- the table
    that decides whether ``n_buckets`` is large enough before a model
    ever trains.

    bucket(t) = h(t) mod n_buckets and sign(t) = +-1 from the NEXT bit
    of the same hash ((h div n_buckets) mod 2), with h the repo-standard
    portable 60-bit md5 hash -- every step reproducible in plain SQL, so
    the whole audit is an exact cross-engine oracle.  net_weight is the
    signed sum of token occurrences; |net_weight| << n_postings means
    collisions cancel (the hashing-trick bias bound at work), while a
    bucket with large n_terms and |net| ~ n_postings is a hot collision.

    Scale shape: one token explode -> one per-TERM aggregate (map-side
    combinable; the shuffle carries distinct terms, not occurrences),
    then bucket/sign are per-term expressions and the final groupBy is
    ``n_buckets``-sized.  Nothing here is corpus-cardinality after the
    first aggregate.

    Output one row per non-empty bucket: ``bucket, n_terms, n_postings,
    net_weight``.
    """
    if n_buckets < 1:
        raise ValueError("feature_hash_audit needs n_buckets >= 1")
    terms = (
        df.select(F.explode(tokenize(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    hashed = terms.select(
        "term",
        "tf",
        portable_base_hash(F.col("term")).alias("h"),
    ).select(
        "term",
        "tf",
        (F.col("h") % n_buckets).cast("long").alias("bucket"),
        # Integer div, not `/`: float division of a 60-bit hash loses
        # bits above 2^53 and the sign bit would depend on rounding.
        F.when(F.expr(f"(h div {n_buckets}) % 2") == 0, 1)
        .otherwise(-1)
        .cast("long")
        .alias("sign"),
    )
    return hashed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("tf").cast("long").alias("n_postings"),
        F.sum(F.col("sign") * F.col("tf")).cast("long").alias("net_weight"),
    )


def dsir_logratio_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_pred: F.Column,
    n_buckets: int = 64,
) -> DataFrame:
    """DSIR-style data-selection weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score each
    document by ``sum over tokens of ln(p_target(b) / p_raw(b))`` where
    ``b`` is the token's hashed feature bucket, ``p_target`` is the
    add-one-smoothed unigram bucket model of the TARGET domain (rows
    matching ``target_pred``) and ``p_raw`` of the whole corpus.  High
    weight = looks like the target domain; importance RESAMPLING then
    keeps docs with probability proportional to the weight -- the
    selection step is the deterministic top-k / threshold the caller
    applies (``weight_nano`` is totally ordered and exact).

    Exactness: the per-BUCKET log-ratio is ONE double ``ln`` of a ratio
    of exact integers, fixed-pointed to nano (floor(x*1e9 + 0.5)) --
    engine-identical on bit-equal inputs -- and the per-document score is
    an INTEGER sum of those nanos, so summation order cannot move the
    result (the same trick as ``textstats``' surprisal fixed point).
    Hash buckets use the portable 60-bit md5 family, replayable in SQL.

    Scale shape: two bucket-count aggregates (map-side combinable, at
    most ``n_buckets`` rows each, broadcast back), one hash join of the
    token stream against the 64-row bucket table, one groupBy(doc).  No
    Python, no driver data; at 100 TB the only corpus-scale shuffle is
    the final per-doc aggregation.  Output: ``doc_id, n_tokens,
    weight_nano`` (long).
    """
    # Cached (r13 review): the token stream feeds BOTH the bucket counts
    # and the final per-doc join; uncached, the corpus would tokenize +
    # md5-hash twice per action (exchange reuse collapses duplicated
    # aggregate subtrees, not two independent scans).  Same discipline
    # as runs_test's "runs_series" cache; released by release_caches().
    toks = _cache_aged(
        "dsir_toks",
        df.select(
            F.col(id_col).alias("doc_id"),
            target_pred.cast("long").alias("is_target"),
            F.explode(tokenize(text_col)).alias("tok"),
        ).withColumn("bucket", portable_base_hash(F.col("tok")) % n_buckets),
    )
    counts = toks.groupBy("bucket").agg(
        F.sum("is_target").cast("long").alias("c_t"),
        F.count(F.lit(1)).cast("long").alias("c_r"),
    )
    tot = counts.agg(
        F.sum("c_t").cast("long").alias("tot_t"),
        F.sum("c_r").cast("long").alias("tot_r"),
    )
    # ln of a ratio of exact counts.  Each FACTOR is cast to double
    # BEFORE multiplying (r13 review): the int64 product
    # (c_t+1)*(tot_r+B) overflows around 2.4e10 tokens with uniform
    # buckets -- silently wrapping negative in Spark (NULL ln, skipped
    # sum) while DuckDB raises.  Counts themselves stay < 2^53 at any
    # realistic scale, so the double conversion is exact and the
    # double*double product rounds identically on both engines.
    lr = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            F.log(
                (
                    (F.col("c_t") + 1).cast("double")
                    * (F.col("tot_r") + n_buckets).cast("double")
                )
                / (
                    (F.col("c_r") + 1).cast("double")
                    * (F.col("tot_t") + n_buckets).cast("double")
                )
            )
            * 1_000_000_000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lr_nano"),
    )
    return (
        toks.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lr_nano").cast("long").alias("weight_nano"),
        )
    )


def source_temperature_quota(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    alpha: float = 0.3,
    budget_docs: int = 10_000,
) -> DataFrame:
    """Temperature-smoothed source-mixing quotas (the mT5/multilingual
    sampling rule): a source with token share ``p_i`` is sampled
    proportionally to ``p_i ** alpha`` -- alpha < 1 upweights small
    sources so the head domain cannot drown the tail -- and the budget is
    apportioned to INTEGER document quotas by largest remainder, so the
    quotas sum to exactly ``budget_docs``.

    Exactness: ``n_i ** alpha`` (proportional to ``p_i ** alpha``; the
    common denominator cancels) is one double ``pow`` per SOURCE,
    fixed-pointed to MICRO as the integer weight ``w_fp``; the largest-
    remainder step is then pure int64 div/mod on ``w_fp`` (the float
    version misallocates and never sums exactly -- same argument as
    ``allocate_fleet_largest_remainder``).  Overflow (r13 review --
    micro not nano precisely for this bound, and the binding term is
    the SHARE multiplier, not the budget): a single source holding the
    entire 2.5e13-token 100 TB corpus gives w_fp = pow(2.5e13, 0.3)*1e6
    ~ 1e10, so w_fp * 1e6 (share_micro) ~ 1e16 and w_fp * budget stays
    under 2^63 for budgets up to ~1e8.  At nano scale the share term
    alone overflowed around 1.7e13 tokens per source.

    Scale shape: one groupBy(source) token-count aggregate (map-side
    combinable), then dim-sized arithmetic and ONE window over the
    source table (tiny by definition of "source").  Output: ``group,
    n_docs, n_tokens, w_fp, share_micro, quota``.
    """
    # Cached (r13 review): `w` feeds both the total and the quota
    # projection; uncached, the corpus token-count scan runs twice.
    w = _cache_aged(
        "temperature_mix_w",
        df.groupBy(F.col(group_col).alias("group")).agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(tokenize(text_col))).cast("long").alias("n_tokens"),
        ),
    )
    w = w.withColumn(
        "w_fp",
        F.floor(F.pow(F.col("n_tokens").cast("double"), F.lit(alpha)) * 1_000_000 + F.lit(0.5))
        .cast("long"),
    )
    tot = w.agg(F.sum("w_fp").cast("long").alias("tw"))
    q = w.crossJoin(F.broadcast(tot)).select(
        "group",
        "n_docs",
        "n_tokens",
        "w_fp",
        F.expr(f"(w_fp * 1000000) div tw").alias("share_micro"),
        F.expr(f"(w_fp * {budget_docs}) div tw").alias("base"),
        ((F.col("w_fp") * budget_docs) % F.col("tw")).alias("rem"),
    )
    base_sum = q.agg(F.sum("base").cast("long").alias("bs"))
    win = Window.orderBy(F.desc("rem"), F.asc("group"))
    ranked = q.crossJoin(F.broadcast(base_sum)).withColumn(
        "rk", F.row_number().over(win)
    )
    return ranked.select(
        "group",
        "n_docs",
        "n_tokens",
        "w_fp",
        F.col("share_micro").cast("long").alias("share_micro"),
        (
            F.col("base")
            + F.when(F.col("rk") <= (F.lit(budget_docs) - F.col("bs")), 1).otherwise(0)
        )
        .cast("long")
        .alias("quota"),
    )
