"""Distributed BPE tokenizer induction and encoding.

The step after token counting (q41) that a real training-data pipeline
runs: LEARN the subword vocabulary from the corpus, then encode with
it. Classic byte-pair encoding (Sennrich et al. 2016), re-expressed for
Spark's execution model:

- ``bpe_train`` works on the WORD-FREQUENCY table, not raw text: the
  corpus collapses to ``(word, freq)`` once (one shuffle over corpus
  tokens — at 100 TB this is the same hash-agg every word-count runs),
  and every merge iteration then touches only the distinct-word table
  (~10^7 rows at web scale, independent of corpus size). Each
  iteration is ONE Spark action: explode adjacent symbol pairs
  weighted by word freq, hash-aggregate, take the arg-max pair
  (deterministic tie-break: count desc, then pair lexicographic), and
  rewrite the symbol arrays with a pure expression fold — no Python in
  the per-word hot path. Lineage is truncated with an eager
  ``localCheckpoint`` every few rounds (the PageRank pattern,
  operators/graph.py) so plans don't grow with the merge count.
- ``bpe_encode`` applies a learned merge list to documents via one
  Arrow-batched ``mapInPandas`` (SURVEY §2.10's sanctioned escape
  hatch — applying R ordered merges per word is inherently sequential,
  exactly the recurrence case the policy reserves Pandas execution
  for). Encoding is embarrassingly parallel over rows.

- ``bpe_train(mode='auto')`` (round 9): when the distinct-word table
  fits the driver — it almost always does; it is vocabulary-sized
  (~10^7 rows at web scale), not corpus-sized — the merge loop runs
  DRIVER-SIDE over the collected ``(word, freq)`` table with
  incremental pair-count maintenance (a lazy-invalidation heap plus a
  pair -> containing-words index, so each merge touches only affected
  words). This removes the per-merge Spark-action round-trip that
  bounded the distributed loop at ~0.1 s/merge regardless of cluster
  size (BPE_BENCH_r8) — a 30k-merge production vocabulary drops from
  ~54 min of sequential actions to the cost of one word-count job plus
  an in-memory loop. The distributed per-iteration path remains for
  vocabularies past ``local_max_words`` and is pinned bit-equal.

Not SQL-expressible (iterative argmax-dependent state), so verified
like PageRank: pytest against a pure-Python reference implementation
(identical merge lists, greedy-overlap and tie-break laws), not the
DuckDB oracle.

Tokenization contract: words are ``\\s+``-delimited with a ``</w>``
end-of-word marker (Sennrich et al. 2016) — merges never cross word
boundaries, and there is NO byte-level fallback à la GPT-2 (a
character absent from the training corpus encodes to ``<unk>`` via the
vocabulary, not to bytes); that is a deliberate from-scratch design
choice, not an emulation gap.

Reference parity note: the reference pipeline has no tokenizer; this
belongs to the training-data extension surface (SURVEY §2 extension
family, BASELINE.json north star).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tradingview_data_pipeline_spark.operators import pins
from tradingview_data_pipeline_spark.operators import text as tx

END_OF_WORD = "</w>"
UNK_TOKEN = "<unk>"


def word_freq_table(df: DataFrame, text_col: str) -> DataFrame:
    """``(word, freq)`` over the corpus — the one corpus-sized pass of
    BPE training; everything after runs on the distinct-word table.

    Empty tokens are dropped: ``tx.tokens`` splits the space-trimmed
    text on ``\\s+``, so text starting with a tab/newline yields a
    leading "" token — a phantom word ``['', '</w>']`` that
    ``bpe_encode``'s tokenizer can never produce and that would skew
    merge statistics."""
    return (df.select(F.explode(tx.tokens(F.col(text_col))).alias("word"))
            .where(F.col("word") != "")
            .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))


def _initial_symbols(word: Column) -> Column:
    """Character symbols with the end-of-word marker appended — the
    standard BPE base alphabet (the marker keeps word-final merges
    distinct from word-internal ones)."""
    return F.concat(F.split(word, ""), F.array(F.lit(END_OF_WORD)))


def _merge_pair(symbols: Column, a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b)
    into ``a+b`` — a pure expression fold (stays in codegen): append
    each symbol unless it forms the pair with the accumulator's last
    element, in which case replace that element with the merged token.
    Greedy-left matches the reference BPE semantics on runs like
    'aaa' with pair (a,a) -> [aa, a]."""
    la, lb, merged = F.lit(a), F.lit(b), F.lit(a + b)
    return F.aggregate(
        symbols,
        F.lit(None).cast(T.ArrayType(T.StringType())),
        lambda acc, s: F.when(acc.isNull(), F.array(s)).otherwise(
            F.when((F.element_at(acc, -1) == la) & (s == lb),
                   F.concat(F.slice(acc, 1, F.size(acc) - 1),
                            F.array(merged)))
            .otherwise(F.concat(acc, F.array(s)))),
    )


def _select_exact_batch(rows, selected_limit: int,
                        min_pair_count: int) -> list[tuple[str, str, int]]:
    """From one pair-count snapshot (rows ordered cnt desc, a asc,
    b asc), pick the LONGEST prefix of the exact sequential-BPE merge
    sequence that the snapshot alone can prove.

    Soundness: applying a selected merge (a, b) only (i) DECREASES
    counts of pairs sharing a symbol with it, and (ii) CREATES pairs
    involving the fresh token ``a+b`` whose counts are bounded by the
    old counts of pairs sharing ``a`` or ``b`` (every (x, ab) was an
    (x, a) occurrence). Fresh tokens can never equal a snapshot symbol,
    so a candidate disjoint from everything selected keeps its exact
    count, and it is provably the next argmax when its count strictly
    exceeds ``bound`` = max old count over (1) snapshot pairs sharing a
    symbol with the selected set and (2) every un-fetched pair (<= the
    last fetched count). Strict inequality sidesteps tie-breaks against
    pairs whose counts we can only bound. Selection stops at the first
    unprovable candidate — callers re-count and continue, so results
    are IDENTICAL to the one-merge-per-action sequence.
    """
    out: list[tuple[str, str, int]] = []
    taken: set[int] = set()
    sym: set[str] = set()
    # anything beyond the fetched window is bounded by the last count
    # fetched; if the window held every pair, nothing is beyond it
    floor = rows[-1]["cnt"] if len(rows) == selected_limit else 0
    while len(out) < selected_limit:
        bound = floor
        pick = None
        for i, r in enumerate(rows):
            if i in taken:
                continue
            if r["a"] in sym or r["b"] in sym:
                bound = max(bound, r["cnt"])
            elif pick is None:
                pick = (i, r)
        if pick is None:
            break
        i, r = pick
        if r["cnt"] < min_pair_count or (out and r["cnt"] <= bound):
            break
        taken.add(i)
        sym.update((r["a"], r["b"]))
        out.append((r["a"], r["b"], r["cnt"]))
    return out


def _train_from_word_freqs(wf: dict[str, int], n_merges: int,
                           min_pair_count: int) -> list[tuple[str, str]]:
    """Driver-side BPE merge loop over a collected ``(word, freq)``
    table — bit-identical to the distributed per-iteration path.

    Exact semantics preserved: pair counts weight EVERY adjacent
    position (overlaps included) by word frequency; argmax ties break
    count-desc then pair-lexicographic-asc; the rewrite is the same
    greedy left-to-right non-overlapping merge. Incremental
    maintenance: a pair -> containing-word-ids index limits each merge
    to its affected words, and a lazy-invalidation min-heap on
    ``(-count, pair)`` yields the argmax without scanning the pair
    table (every count change pushes a fresh entry; stale entries are
    discarded on pop — the heap order IS the tie-break order)."""
    import heapq
    from collections import Counter

    freqs: list[int] = []
    syms_tab: list[list[str]] = []
    pc: dict[tuple[str, str], int] = {}
    occ: dict[tuple[str, str], set[int]] = {}
    for w, f in wf.items():
        idx = len(freqs)
        freqs.append(f)
        syms = list(w) + [END_OF_WORD]
        syms_tab.append(syms)
        for p in zip(syms, syms[1:]):
            pc[p] = pc.get(p, 0) + f
            occ.setdefault(p, set()).add(idx)
    heap = [(-c, p) for p, c in pc.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if pc.get(p, 0) == -negc:
                best = (p, -negc)
                break
        if best is None or best[1] < min_pair_count:
            break
        (a, b), _ = best
        merges.append((a, b))
        changed: set[tuple[str, str]] = set()
        for idx in list(occ.get((a, b), ())):
            f = freqs[idx]
            syms = syms_tab[idx]
            old = Counter(zip(syms, syms[1:]))
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms_tab[idx] = out
            new = Counter(zip(out, out[1:]))
            for p2 in old.keys() | new.keys():
                d = new.get(p2, 0) - old.get(p2, 0)
                if d:
                    pc[p2] = pc.get(p2, 0) + d * f
                    changed.add(p2)
                    if pc[p2] <= 0:
                        del pc[p2]
                if old.get(p2, 0) and not new.get(p2, 0):
                    s2 = occ.get(p2)
                    if s2 is not None:
                        s2.discard(idx)
                elif new.get(p2, 0) and not old.get(p2, 0):
                    occ.setdefault(p2, set()).add(idx)
        for p2 in changed:
            c = pc.get(p2, 0)
            if c > 0:
                heapq.heappush(heap, (-c, p2))
    return merges


def bpe_train(
    df: DataFrame,
    text_col: str,
    *,
    n_merges: int = 50,
    min_pair_count: int = 2,
    checkpoint_every: int = 5,
    pair_batch: int = 1,
    stats_out: dict | None = None,
    mode: str = "auto",
    local_max_words: int = 2_000_000,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus; returns the
    ordered merge list (the tokenizer). Stops early when no adjacent
    pair reaches ``min_pair_count`` (weighted by word frequency).

    Per iteration: one action over the word table (pair count + top-k
    with count-desc / pair-lexicographic tie-break — deterministic on
    any cluster layout), then a lazy symbol rewrite. The collect is
    ``pair_batch`` rows; word-table lineage is truncated every
    ``checkpoint_every`` rounds.

    ``pair_batch > 1`` amortizes the per-iteration driver round-trip —
    the binding cost at realistic vocabulary sizes (tens of thousands
    of merges), since the word-table job itself is corpus-size-
    independent. Each action fetches the top ``pair_batch`` pairs and
    applies the longest PROVABLY-exact prefix of the sequential merge
    order (``_select_exact_batch``) — the result is bit-identical to
    ``pair_batch=1`` (pytest-pinned), only the action count drops.
    Merge-heavy regimes where consecutive best pairs share symbols
    (early character-level rounds) batch poorly by construction;
    plateau regimes (the long tail of a big vocabulary) batch well.

    ``mode``: ``'auto'`` (default) collects the word table and runs the
    merge loop DRIVER-SIDE when it holds at most ``local_max_words``
    distinct words (one bounded ``limit(n+1).count()`` probe decides) —
    the vocabulary-sized table is the natural driver object, and the
    in-memory loop removes the per-merge action round-trip that no
    cluster size can amortize. ``'local'`` forces it; ``'distributed'``
    forces the per-iteration Spark loop (giant vocabularies). All three
    produce the IDENTICAL merge list (pytest-pinned).

    ``stats_out`` (optional dict) records ``path`` ('local' or
    'distributed'), ``n_actions`` (Spark actions run) and
    ``merges_per_action`` — the measured batching efficiency.
    """
    if mode not in ("auto", "local", "distributed"):
        raise ValueError(f"unknown mode {mode!r}")
    wf_table = word_freq_table(df, text_col)
    if mode != "distributed":
        use_local = mode == "local"
        n_actions = 0
        if not use_local:
            n_actions += 1
            use_local = (wf_table.limit(local_max_words + 1).count()
                         <= local_max_words)
        if use_local:
            wf = {r["word"]: r["freq"] for r in wf_table.collect()}
            merges = _train_from_word_freqs(wf, n_merges, min_pair_count)
            if stats_out is not None:
                stats_out["path"] = "local"
                stats_out["n_actions"] = n_actions + 1   # the collect
                stats_out["merges_per_action"] = float(len(merges))
            return merges
    words = pins.checkpoint(wf_table.withColumn(
        "symbols", _initial_symbols(F.col("word"))), storage_level=None)
    merges: list[tuple[str, str]] = []
    since_ckpt = 0
    n_actions = 0
    while len(merges) < n_merges:
        n_actions += 1
        pairs = words.select(
            F.col("freq"),
            F.explode(F.expr(
                "transform(slice(symbols, 1, size(symbols) - 1), "
                "(s, i) -> struct(s AS a, symbols[i + 1] AS b))")).alias("p"))
        fetch = max(1, pair_batch)
        rows = (pairs.groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("a").asc(),
                         F.col("b").asc())
                .limit(fetch).collect())
        if not rows or rows[0]["cnt"] < min_pair_count:
            break
        batch = _select_exact_batch(rows, fetch, min_pair_count)
        batch = batch[:n_merges - len(merges)]
        for a, b, _ in batch:
            merges.append((a, b))
            words = words.withColumn("symbols",
                                     _merge_pair(F.col("symbols"), a, b))
        since_ckpt += len(batch)
        if since_ckpt >= checkpoint_every:
            words = pins.checkpoint(words, storage_level=None)
            since_ckpt = 0
    if stats_out is not None:
        stats_out["path"] = "distributed"
        stats_out["n_actions"] = n_actions
        stats_out["merges_per_action"] = (
            len(merges) / n_actions if n_actions else 0.0)
    return merges


def _encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python single-word BPE application (driver/test reference
    and the per-batch kernel for ``bpe_encode``)."""
    syms = list(word) + [END_OF_WORD]
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def bpe_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    *,
    vocab: dict[str, int] | None = None,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Encode each document with a learned merge list: returns
    ``(id_col, *keep_cols, bpe_tokens array<string>, n_bpe_tokens)``,
    plus ``input_ids array<bigint>`` when a ``vocab`` (token -> id, see
    ``build_vocab``) is given — tokens outside the vocabulary map to
    ``vocab[UNK_TOKEN]`` (impossible when encoding the training corpus
    itself: every produced token is a base symbol or a merge product).
    ``keep_cols`` ride through the same map pass (e.g. the shard key a
    downstream packer groups on) — no re-join needed.

    One Arrow-batched ``mapInPandas`` pass; within a batch each
    distinct word is encoded once (memoized) — web corpora repeat
    words heavily, so the per-row cost is a dict lookup.
    """
    keep = list(keep_cols or [])
    fields = [
        df.schema[id_col],
        *[df.schema[c] for c in keep],
        T.StructField("bpe_tokens", T.ArrayType(T.StringType())),
        T.StructField("n_bpe_tokens", T.LongType()),
    ]
    if vocab is not None:
        fields.append(T.StructField("input_ids",
                                    T.ArrayType(T.LongType())))
        unk = vocab[UNK_TOKEN]
    spark_schema = T.StructType(fields)

    def encode_batches(batches):
        import re

        import pandas as pd
        # tokenize EXACTLY like tx.tokens (Java \s+ = ASCII whitespace):
        # Python str.split() would additionally split on Unicode spaces
        # (NBSP, U+2028, ...) and segment words differently from the
        # vocabulary the merges were trained on
        word_re = re.compile(r"[^ \t\n\x0b\f\r]+")
        cache: dict[str, list[str]] = {}

        def enc(text):
            toks: list[str] = []
            for w in (word_re.findall(text) if text else []):
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _encode_word(w, merges)
                toks.extend(got)
            return toks

        for pdf in batches:
            encoded = pdf[text_col].map(enc)
            out = {
                id_col: pdf[id_col],
                **{c: pdf[c] for c in keep},
                "bpe_tokens": encoded,
                "n_bpe_tokens": encoded.map(len).astype("int64"),
            }
            if vocab is not None:
                out["input_ids"] = encoded.map(
                    lambda ts: [vocab.get(t, unk) for t in ts])
            yield pd.DataFrame(out)

    return (df.select(id_col, *keep, text_col)
            .mapInPandas(encode_batches, schema=spark_schema))


def corpus_base_tokens(df: DataFrame, text_col: str) -> list[str]:
    """The base symbol alphabet of a corpus: sorted distinct characters
    of its words plus the end-of-word marker. One corpus pass; the
    collect is the alphabet (bounded by the script inventory, not the
    corpus)."""
    rows = (df.select(F.explode(tx.tokens(F.col(text_col))).alias("w"))
            .where(F.col("w") != "")
            .select(F.explode(F.split(F.col("w"), "")).alias("c"))
            .where(F.col("c") != "")
            .distinct().collect())
    return sorted(r["c"] for r in rows) + [END_OF_WORD]


def build_vocab(merges: list[tuple[str, str]],
                base_tokens: list[str]) -> dict[str, int]:
    """token -> id map: ``UNK_TOKEN`` = 0, then the base alphabet in
    its given (sorted) order, then one token per merge in RANK order —
    the standard BPE vocabulary layout, deterministic given (merges,
    alphabet). First occurrence wins when two merge paths produce the
    same string (('a','bc') and ('ab','c') both make 'abc'), matching
    what ``_encode_word`` can actually emit."""
    vocab = {UNK_TOKEN: 0}
    for t in base_tokens:
        vocab.setdefault(t, len(vocab))
    for a, b in merges:
        vocab.setdefault(a + b, len(vocab))
    return vocab


def save_merges(spark, merges: list[tuple[str, str]], path: str) -> None:
    """Persist a learned merge list as a (rank, a, b) parquet — the
    tokenizer ARTIFACT: a corpus build trains once, every later encode
    job loads. Merge ORDER is the tokenizer (BPE applies merges by
    rank), so rank is stored explicitly rather than trusting file
    order. One tiny file (coalesce(1)): tens of thousands of rows."""
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    schema = "rank long, a string, b string"
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(path)


def load_merges(spark, path: str) -> list[tuple[str, str]]:
    """Load a merge list saved by ``save_merges``, rank order restored
    (bounded driver collect: the vocabulary, not the corpus)."""
    return [(r["a"], r["b"]) for r in
            spark.read.parquet(path).orderBy("rank").collect()]


def save_vocab(spark, vocab: dict[str, int], path: str) -> None:
    """Persist a token->id map (``build_vocab`` output) as (token, id)
    parquet. The id layout depends on the TRAINING corpus's base
    alphabet, which a later encode job elsewhere cannot re-derive —
    ship this artifact next to the merge list."""
    schema = "token string, id long"
    spark.createDataFrame(list(vocab.items()), schema).coalesce(1) \
        .write.mode("overwrite").parquet(path)


def load_vocab(spark, path: str) -> dict[str, int]:
    """Load a vocabulary saved by ``save_vocab``."""
    return {r["token"]: r["id"] for r in
            spark.read.parquet(path).collect()}


def fertility_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
    *,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tokenizer fertility evaluation: per ``group_cols`` (per corpus
    with ``None``), the compression statistics people compare
    tokenizers by — BPE tokens per word (fertility; 1.0 = every word is
    one token, higher = more splitting) and characters per BPE token
    (compression rate). The standard acceptance gate before adopting a
    tokenizer for a domain mix: a vocabulary trained on one domain
    shows inflated fertility on another, and this surfaces it per
    group in one pass.

    Returns (group..., n_docs, n_words, n_tokens, n_chars,
    tokens_per_word, chars_per_token) — integer sums with two exact
    IEEE divisions. Plan: the ``bpe_encode`` map pass (memoized per
    Arrow batch, ``keep_cols`` carries the group key through — no
    re-join) plus ONE hash aggregate on the group key; the corpus is
    never shuffled. Groups with zero words report NULL ratios rather
    than dividing by zero.
    """
    keep = list(group_cols or [])
    txt = F.coalesce(F.col(text_col), F.lit(""))   # size(split(NULL)) is -1
    pre = df.select(
        id_col, *keep, text_col,
        F.size(F.filter(F.split(F.trim(txt), r"\s+"),
                        lambda w: w != "")).alias("__w"),
        F.length(txt).alias("__c"))
    # word/char counts ride through the encode pass as keep_cols (the
    # same no-re-join trick packing uses for its shard key)
    enc = bpe_encode(pre, id_col, text_col, merges,
                     keep_cols=keep + ["__w", "__c"])
    out = (enc.groupBy(*keep)
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("__w").cast("bigint").alias("n_words"),
                F.sum("n_bpe_tokens").cast("bigint").alias("n_tokens"),
                F.sum("__c").cast("bigint").alias("n_chars")))
    return out.select(
        *keep, "n_docs", "n_words", "n_tokens", "n_chars",
        F.when(F.col("n_words") > 0,
               F.col("n_tokens").cast("double")
               / F.col("n_words").cast("double")).alias("tokens_per_word"),
        F.when(F.col("n_tokens") > 0,
               F.col("n_chars").cast("double")
               / F.col("n_tokens").cast("double")).alias("chars_per_token"))
