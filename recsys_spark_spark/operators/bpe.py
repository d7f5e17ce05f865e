"""Iterative BPE tokenizer TRAINING, Spark-native (r13 — completes
the single-iteration primitive ``plans/llm.py::corpus_bpe_pair_counts``
into the full Sennrich et al. 2016 trainer).

Why the shape is right at 100 TB: the corpus is scanned ONCE, into
the distinct-word frequency table (map-side-combinable groupBy; the
shuffle is vocabulary-wide, not corpus-wide) — every training
iteration thereafter runs over that vocabulary relation only:

    1. adjacent-pair counts weighted by word frequency (explode over
       symbol arrays, one hash aggregate);
    2. argmax pair = a 1-ROW ``orderBy().limit(1)`` collect — planned
       as TakeOrderedAndProject (per-partition top-1, tiny driver
       merge), the only driver state in the loop: O(n_merges) strings,
       the model itself;
    3. merge application = a pure column fold (``F.aggregate`` with a
       (out, pending) struct accumulator) rewriting each word's symbol
       array in place — leftmost, non-overlapping, the reference BPE
       pass semantics.

Lineage discipline: each iteration's plan nests an aggregate fold
inside the previous one, so the vocabulary relation is
``localCheckpoint``-ed every ``checkpoint_every`` merges (the
pointer-jumping components precedent, operators/components.py) —
without it a 1000-merge train would build a 1000-deep expression
tree and die in analysis long before execution.

Determinism: ties in the argmax break on (count DESC, a ASC, b ASC),
so the learned merge list is a pure function of the corpus — the
property that lets the golden tests pin it against a pure-Python
reference implementation (tests/test_bpe.py) and lets two clusters
train byte-identical tokenizers.

Encoding new text replays the learned merges in order
(:func:`apply_merges`) — same fold, same checkpoint discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lifecycle import materialize, release

#: checkpoint the vocabulary relation every this many merges (plan
#: depth bound; each merge adds one aggregate-fold layer)
CHECKPOINT_EVERY = 8


def word_vocab(
    docs: DataFrame, text_col: str = "text", min_len: int = 1
) -> DataFrame:
    """(word, n) distinct-word frequencies — the ONE corpus-wide scan
    of BPE training; everything after runs at vocabulary width."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.length("word") >= min_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def init_symbols(vocab: DataFrame) -> DataFrame:
    """(syms array<string>, n): each word split to single-character
    symbols — the stage-0 state of training."""
    # (?!^)(?=.) splits at every between-character position — the
    # bare (?!^) also matches at end-of-string and yields a trailing
    # empty symbol (caught by the golden twin: merge ('t','') ranked)
    return vocab.select(
        F.split(F.col("word"), "(?!^)(?=.)").alias("syms"), F.col("n")
    )


def _adjacent_pairs(syms):
    """array<struct<a,b>> of adjacent symbol pairs (try_element_at is
    1-based and NULL-safe out of range — bracket indexing would throw
    under Spark 4 ANSI mode)."""
    return F.expr(
        "filter(transform(syms, (x, i) ->"
        " struct(x AS a, try_element_at(syms, i + 2) AS b)),"
        " p -> p.b IS NOT NULL)"
    )


def pair_counts(sym_vocab: DataFrame) -> DataFrame:
    """(a, b, cnt): corpus-weighted adjacent-pair frequencies over the
    symbol vocabulary."""
    return (
        sym_vocab.select(
            F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "n"
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("cnt"))
    )


def top_pairs(sym_vocab: DataFrame, m: int) -> list[tuple[str, str, int]]:
    """The top ``m`` pairs by (cnt DESC, a ASC, b ASC) — one
    TakeOrderedAndProject job (per-partition top-m, tiny driver
    merge); the input of the batched greedy selection
    (:func:`_select_merge_batch`)."""
    rows = (
        pair_counts(sym_vocab)
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(m)
        .collect()
    )
    return [(r["a"], r["b"], r["cnt"]) for r in rows]


def _select_merge_batch(
    pairs: list[tuple[str, str, int]],
    created_tokens: set[str],
    limit: int,
    complete: bool,
) -> list[tuple[str, str]]:
    """Longest prefix of the sorted top-m pair list that PROVABLY
    equals the next merges of the one-at-a-time greedy trainer — the
    soundness core of batched training (r15; VERDICT r14 #1).

    Applying a merge (a, b) → t=a+b changes pair counts only for pairs
    that overlap {a, b} (decrease — harmless) or involve the new token
    t (created, or alias-boosted when t already IS a symbol).  A batch
    prefix S = p₁..p_f of the (cnt DESC, a, b)-sorted list therefore
    replays the sequential schedule exactly when:

    - **strict prefix, mutually disjoint**: every collected pair ahead
      of an accepted one is accepted, and accepted pairs share no
      symbol (nor a batch-created token) — so each accepted pair's
      count is INVARIANT under the earlier merges, and every untouched
      pair still sorts after it;
    - **no doubled pair except alone**: merge (a, a) can create runs
      like (aa, a)/(aa, aa) whose count is bounded only by cnt(a, a)
      itself, so a doubled pair ends its batch;
    - **no alias**: if t equals a token created by ANY earlier merge
      (driver-known: multi-char symbols exist iff some merge created
      them), existing pairs over t get boosted by up to their old
      count + the created occurrences — terminate before the pair
      (p₁ may itself alias: accept it alone);
    - **strict count drop at the end**: every pair a merge can create
      has count ≤ the count of some old overlapping pair ∉ S, i.e.
      ≤ cnt(p_{f+1}); requiring cnt(p_j) > cnt(p_{f+1}) for j ≥ 2
      (⇔ the batch ends at a strict drop, counts being sorted) means
      no created pair can outrank a later batch member, even on ties.

    ``complete`` says the collected list is the WHOLE pair relation
    (fewer rows than asked): only then may the batch consume the list's
    tail (boundary count 0); otherwise unseen pairs may tie the last
    collected one and the tie group is trimmed."""
    if not pairs:
        return []
    a0, b0, _ = pairs[0]
    used = {a0, b0, a0 + b0}
    if a0 == b0 or (a0 + b0) in created_tokens:
        return [(a0, b0)]
    k = 1
    while k < len(pairs) and k < limit:
        a, b, _ = pairs[k]
        t = a + b
        if (
            a == b
            or a in used
            or b in used
            or t in used
            or t in created_tokens
        ):
            break
        used.update((a, b, t))
        k += 1
    cs = [p[2] for p in pairs[:k]]
    if k < len(pairs):
        boundary = pairs[k][2]
    elif complete:
        boundary = 0
    else:
        boundary = cs[-1]  # unseen pairs may tie the last collected
    f = k
    while f >= 2 and cs[f - 1] <= boundary:
        boundary = cs[f - 1]  # the trimmed pair becomes the next pair
        f -= 1
    return [(a, b) for a, b, _ in pairs[:f]]


def apply_merge(sym_vocab: DataFrame, a: str, b: str) -> DataFrame:
    """Rewrite every symbol array merging adjacent (a, b) -> a+b,
    LEFTMOST and NON-OVERLAPPING within the pass (after a merge the
    scan restarts at the next symbol — [a,a,a] under merge (a,a)
    becomes [aa, a], the reference semantics)."""
    return sym_vocab.select(
        _merge_col(F.col("syms"), a, b).alias("syms"), F.col("n")
    )


#: pairs collected per counting job by the batched trainer — the
#: batch can never exceed it, and a larger window only helps while the
#: head of the count distribution is strict-dropping and disjoint
#: (64 is past the observed batch sizes; the collect stays one
#: TakeOrderedAndProject of 64 tiny rows)
BATCH_TOP_M = 64

#: distinct-word budget for the LOCAL training path (r15; the BatchSOM
#: bounded-local-path precedent): BPE training state after the one
#: corpus scan is the distinct-word frequency table — when it fits the
#: driver, the classic incremental-count trainer (update only the
#: pairs the applied merge touched, lazy max-heap argmax) runs the
#: whole merge loop with ZERO Spark jobs per merge.  ~1 KB/word of
#: Python state → ~0.5 GB at the budget.  Corpora above the budget
#: take the distributed batched loop unchanged.
LOCAL_VOCAB_BUDGET = 500_000


def _train_local(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Driver-side BPE training over a collected (word, n) vocabulary —
    bit-identical to the distributed loop (same (cnt DESC, a ASC,
    b ASC) argmax, same leftmost-non-overlapping merge pass), pinned
    by tests/test_bpe.py against the pure recount-every-iteration twin.

    Incremental counts: merging (a, b) only changes pairs inside words
    that contain the pair, so each merge re-counts just those words
    (O(affected tokens), not O(vocabulary)).  The argmax is a lazy
    heap: every count change pushes a fresh (-cnt, a, b) entry; stale
    entries are skipped on pop (their recorded count no longer matches
    the live table), so the surviving top IS the current maximum under
    the exact tie order."""
    import heapq

    words: list[tuple[list[str], int]] = [
        (list(w), n) for w, n in word_counts
    ]
    pair_cnt: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    heap: list[tuple[int, str, str]] = []

    def count_pairs(syms: list[str]) -> dict[tuple[str, str], int]:
        d: dict[tuple[str, str], int] = {}
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            d[p] = d.get(p, 0) + 1
        return d

    touched: set[tuple[str, str]] = set()
    for wi, (syms, n) in enumerate(words):
        for p, k in count_pairs(syms).items():
            pair_cnt[p] = pair_cnt.get(p, 0) + k * n
            pair_words.setdefault(p, set()).add(wi)
            touched.add(p)
    for p in touched:
        heapq.heappush(heap, (-pair_cnt[p], p[0], p[1]))

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        best = None
        while heap:
            c, a, b = heap[0]
            if pair_cnt.get((a, b), 0) == -c and c < 0:
                best = (a, b)
                break
            heapq.heappop(heap)  # stale or zeroed entry
        if best is None:
            break
        a, b = best
        merges.append(best)
        changed: set[tuple[str, str]] = set()
        for wi in list(pair_words.get(best, ())):
            syms, n = words[wi]
            old = count_pairs(syms)
            if best not in old:
                pair_words[best].discard(wi)  # stale index entry
                continue
            new_syms = _py_merge_pass(syms, a, b)
            new = count_pairs(new_syms)
            for p, k in old.items():
                if new.get(p, 0) != k:
                    pair_cnt[p] = pair_cnt.get(p, 0) + (new.get(p, 0) - k) * n
                    if pair_cnt[p] == 0:
                        del pair_cnt[p]
                    changed.add(p)
            for p, k in new.items():
                if old.get(p, 0) != k:
                    if old.get(p, 0) == 0:
                        pair_cnt[p] = pair_cnt.get(p, 0) + k * n
                        changed.add(p)
                    pair_words.setdefault(p, set()).add(wi)
            words[wi] = (new_syms, n)
        for p in changed:
            if p in pair_cnt:
                heapq.heappush(heap, (-pair_cnt[p], p[0], p[1]))
    return merges


def _py_merge_pass(syms: list[str], a: str, b: str) -> list[str]:
    """Leftmost non-overlapping merge pass — the driver twin of
    :func:`_merge_col` (same semantics as the tests' reference)."""
    out: list[str] = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    checkpoint_every: int = CHECKPOINT_EVERY,
    batch_top_m: int = BATCH_TOP_M,
    local_vocab_budget: int | None = LOCAL_VOCAB_BUDGET,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merge rules from a document corpus;
    returns the ordered rule list (the tokenizer model).  Stops early
    when no adjacent pair remains.  Driver state is the rule list
    (plus, on the bounded local path, the word-frequency table).

    Two exact paths, same merge list (r15; VERDICT r14 #1):

    - **local** (vocabulary ≤ ``local_vocab_budget`` distinct words —
      the BatchSOM bounded-local-path precedent): ONE corpus scan
      collects the (word, n) table via Arrow and
      :func:`_train_local` runs the classic incremental-count trainer
      driver-side — zero Spark jobs per merge.
    - **distributed** (above budget, or budget=None): BATCHED greedy —
      each counting job collects the top ``batch_top_m`` pairs and
      :func:`_select_merge_batch` takes the longest provably-
      sequential prefix (mutually disjoint, alias-free, ending at a
      strict count drop), applying the whole batch as chained folds
      before recounting.  ``batch_top_m=1`` degenerates to the r13
      one-merge-per-job loop.

    Both paths are pinned bit-identical to the recount-every-iteration
    pure-Python twin by tests/test_bpe.py (adversarial
    overlap/tie/doubled-pair corpora included)."""
    vocab = word_vocab(docs, text_col)
    if local_vocab_budget is not None:
        vocab = materialize(vocab, owner="bpe")
        if vocab.count() <= local_vocab_budget:
            tbl = vocab.toArrow()
            wc = list(
                zip(
                    tbl.column("word").to_pylist(),
                    tbl.column("n").to_pylist(),
                )
            )
            release("bpe")
            return _train_local(wc, n_merges)
    sym = init_symbols(vocab).localCheckpoint(eager=True)
    release("bpe")  # the checkpoint holds the materialized state
    merges: list[tuple[str, str]] = []
    created: set[str] = set()
    folds_since_ckpt = 0
    while len(merges) < n_merges:
        want = n_merges - len(merges)
        m = max(batch_top_m, 1)
        if folds_since_ckpt >= checkpoint_every:
            sym = sym.localCheckpoint(eager=True)
            folds_since_ckpt = 0
        top = top_pairs(sym, m)
        batch = _select_merge_batch(
            top, created, limit=want, complete=len(top) < m
        )
        if not batch:
            break
        for a, b in batch:
            merges.append((a, b))
            created.add(a + b)
            # the plan-depth bound is per FOLD, so the cadence also
            # fires inside a large batch
            if folds_since_ckpt >= checkpoint_every:
                sym = sym.localCheckpoint(eager=True)
                folds_since_ckpt = 0
            sym = apply_merge(sym, a, b)
            folds_since_ckpt += 1
    return merges


def apply_merges(
    words: DataFrame,
    merges: list[tuple[str, str]],
    word_col: str = "word",
    out_col: str = "tokens",
    checkpoint_every: int = CHECKPOINT_EVERY,
) -> DataFrame:
    """ENCODE: tokenize a word relation with a learned rule list —
    replays the merges in training order over char-split symbols.
    Returns the input columns + ``out_col`` (array<string>)."""
    cols = words.columns
    enc = words.select(
        F.split(F.col(word_col), "(?!^)(?=.)").alias("syms"), *cols
    )
    for i, (a, b) in enumerate(merges):
        if i and i % checkpoint_every == 0:
            enc = enc.localCheckpoint(eager=True)
        enc = enc.select(
            _merge_col(F.col("syms"), a, b).alias("syms"), *cols
        )
    return enc.select(*cols, F.col("syms").alias(out_col))


def _merge_col(syms, a: str, b: str):
    """The apply_merge fold as a bare column expression (shared by
    the vocab rewrite and the encoder so the two cannot drift)."""
    merged = F.lit(a + b)
    la, lb = F.lit(a), F.lit(b)
    return F.aggregate(
        syms,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("p"),
        ),
        lambda acc, x: (
            F.when(
                acc["p"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("p")),
            )
            .when(
                (acc["p"] == la) & (x == lb),
                F.struct(
                    F.concat(acc["out"], F.array(merged)).alias("out"),
                    F.lit(None).cast("string").alias("p"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["p"])).alias("out"),
                    x.alias("p"),
                )
            )
        ),
        lambda acc: F.when(acc["p"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["p"]))
        ),
    )
