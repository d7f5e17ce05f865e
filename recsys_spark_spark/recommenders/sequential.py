"""Sequential recommender (reference M10-M14), Spark-first.

Reference pipeline (SequentialTopKRecommender.scala:87-111): baskets →
time periods → SOM clustering of baskets → FPGrowth over
period-tagged cluster sequences → CMRules-style rule rework → per-user
scoring, with the rule support recomputed by a UDF that closes over
ALL transactions collected to the driver (:492-504) and per-user
scoring done one user at a time on the driver (:113-152,183-239).

This rebuild keeps the semantics but every stage is a DataFrame op:

- baskets: groupBy(user, ts) + collect_list — sparse arrays, never the
  reference's dense binary basket vector (U1, :248-255);
- periods: ``least(floor((ts-min)/width), n-1)`` — pure column math;
  dense ids by construction, replacing the reference's
  orderBy + monotonically_increasing_id hazard (W3, :322-327) and
  preserving the unmatched→last-period rule (W4, :278-312);
- clustering: a real batch-Kohonen SOM (``recommenders/som.py``,
  NumPy-twin-pinned) is the default (M12, ``cluster_method="som"``);
  HashingTF → KMeans(k=h·w, seed) remains as an opt-in fallback
  (same role: quantize baskets into h·w cluster ids, fixed seed);
- sequences: period-tagged cluster strings "{cluster}_{relperiod}"
  via pure column expressions (U3's flatList UDF eliminated);
- rules: pyspark.ml.fpm.FPGrowth (M13, 1:1) + rework filters as column
  expressions (M14/P4) + support recompute as a broadcast-rules join
  (J6) — the collected-transactions closure is gone;
- recommend: ALL users at once — rule scoring is a crossJoin against
  the broadcast rule set, candidate votes are an explode + groupBy
  (A9), seen-item removal is an anti-join (J5).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..lifecycle import materialize, release
from ..phases import phase


def rule_counts(
    sequences: DataFrame,
    rules: DataFrame,
    bitmask_max_tags: int = 62,
    tags: list | None = None,
) -> DataFrame:
    """J6/U6: per-rule sequence-containment counts, replacing the
    reference's getSupport UDF that closes over ALL transactions
    collected to the driver (SequentialTopKRecommender.scala:492-504).

    A sequence contains a rule's itemset iff it matches ALL of the
    rule's tags.  Requires duplicate-free ``items`` and disjoint
    antecedent/consequent (both true by construction: _sequences emits
    per-period sets, FPGrowth rules are disjoint itemsets).

    ``sequences``: (user_id, items array<string>); ``rules``:
    (rule_id, antecedent, consequent).  Returns (rule_id, n_xy, n_ant)
    with a 0/0 row for never-matched rules.

    Strategy mirrors recommend(): the tag alphabet is ≤ grid cells ×
    periods values, so the "sparse" tag join is actually dense (at
    sf0.1 it materialized ~100M joined rows for 15k users × 4096
    rules).  When the alphabet fits in a long, each sequence and each
    rule side become BITMASKS; containment is ``mseq & mr == mr``,
    counted per rule with a map-side partial aggregate over the
    DISTINCT sequence masks (weighted by multiplicity) — the exchange
    carries ≤ |rules| rows per partition and nothing wide shuffles.
    Rule tags absent from every sequence poison the rule mask with a
    bit no sequence has, so containment correctly fails (they cannot
    be dropped: dropping would make the test vacuously pass).  >62
    tags falls back to the explode-join form.

    ``tags``: the sorted tag alphabet, if the caller already collected
    it (SequentialTopK.fit does, once, for this AND recommend());
    collected here otherwise."""
    if tags is None:
        tag_rows = (
            sequences.select(F.explode("items").alias("t"))
            .distinct()
            .collect()
        )  # bounded by the tag alphabet, never by data
        tags = sorted(r["t"] for r in tag_rows)
    if not tags:
        # no sequences → nothing is contained
        return rules.select(
            "rule_id",
            F.lit(0).cast("long").alias("n_xy"),
            F.lit(0).cast("long").alias("n_ant"),
        )
    if len(tags) <= bitmask_max_tags:
        lits: list = []
        for i, tg in enumerate(tags):
            lits += [F.lit(tg), F.lit(1 << i)]
        mp = F.create_map(*lits)
        poison = F.lit(1 << 62).cast("long")

        def mask(col):
            return F.aggregate(
                col,
                F.lit(0).cast("long"),
                lambda acc, x: acc.bitwiseOR(
                    F.coalesce(F.element_at(mp, x), poison)
                ),
            )

        um = (
            sequences.select(mask(F.col("items")).alias("mseq"))
            .groupBy("mseq")
            .agg(F.count("*").alias("cnt"))
        )
        rm = rules.select(
            "rule_id",
            mask(F.col("antecedent")).alias("mant"),
            mask(F.concat("antecedent", "consequent")).alias("mxy"),
        )
        counted = (
            um.crossJoin(F.broadcast(rm))
            .groupBy("rule_id")
            .agg(
                F.sum(
                    F.when(
                        F.col("mseq").bitwiseAND(F.col("mxy")) == F.col("mxy"),
                        F.col("cnt"),
                    ).otherwise(F.lit(0))
                ).alias("n_xy"),
                F.sum(
                    F.when(
                        F.col("mseq").bitwiseAND(F.col("mant")) == F.col("mant"),
                        F.col("cnt"),
                    ).otherwise(F.lit(0))
                ).alias("n_ant"),
            )
        )
    else:
        ant = rules.select(
            "rule_id", F.explode("antecedent").alias("tag"), F.lit(1).alias("is_ant")
        )
        con = rules.select(
            "rule_id", F.explode("consequent").alias("tag"), F.lit(0).alias("is_ant")
        )
        rtags = ant.unionByName(con)
        sizes = rules.select(
            "rule_id",
            F.size("antecedent").alias("sz_ant"),
            (F.size("antecedent") + F.size("consequent")).alias("sz_xy"),
        )
        utags = sequences.select("user_id", F.explode("items").alias("tag"))
        per_user = (
            utags.join(F.broadcast(rtags), "tag")
            .groupBy("user_id", "rule_id")
            .agg(F.sum("is_ant").alias("c_ant"), F.count("*").alias("c_xy"))
        )
        counted = (
            per_user.join(F.broadcast(sizes), "rule_id")
            .groupBy("rule_id")
            .agg(
                F.sum(
                    F.when(F.col("c_xy") == F.col("sz_xy"), 1).otherwise(0)
                ).alias("n_xy"),
                F.sum(
                    F.when(F.col("c_ant") == F.col("sz_ant"), 1).otherwise(0)
                ).alias("n_ant"),
            )
        )
    return (
        rules.select("rule_id")
        .join(counted, "rule_id", "left")
        .select(
            "rule_id",
            F.coalesce("n_xy", F.lit(0)).cast("long").alias("n_xy"),
            F.coalesce("n_ant", F.lit(0)).cast("long").alias("n_ant"),
        )
    )


@dataclass
class SequentialTopK:
    """Cluster-sequence rule recommender.

    Parameters mirror the reference's setters
    (SequentialTopKRecommender.scala:42-70): ``k_items`` top-K, grid
    height×width (cluster count), FPGrowth min support/confidence, the
    sequential-rule re-thresholds, and the period count.
    """

    k_items: int = 5
    grid_height: int = 3
    grid_width: int = 3
    n_periods: int = 5
    min_support: float = 0.01
    min_confidence: float = 0.2
    min_support_seq: float = 0.01
    min_confidence_seq: float = 0.05
    #: HashingTF width for the KMEANS stand-in path ONLY
    #: (cluster_method="kmeans"); the default SOM path hashes baskets
    #: with ``som_hash_dim`` dense buckets instead
    hash_features: int = 4096
    #: dense hashed-feature width for the SOM path (Arrow-friendly
    #: array<double>; 64 keeps the per-iteration BMU matmul cheap)
    som_hash_dim: int = 64
    #: clustering iteration budget — the reference's SOM runs
    #: setMaxIter(5) (SequentialTopKRecommender.scala:403-416)
    max_iter: int = 5
    #: UPPER BOUND on how many of each cluster's top-voted candidate
    #: items survive before the per-user join.  A user with S seen
    #: items can displace at most S candidates from their top-K, so
    #: keeping ``k_items + max(distinct items per user)`` per cluster
    #: is EXACT — fit() computes that bound from the data (one cheap
    #: aggregate) and uses ``min(vote_prefilter, k_items + bound)``;
    #: this field only caps the adaptive value for pathological users.
    #: Without any cap the join is |users| × |cluster items| (measured
    #: 300M rows / 52 s at sf0.1; 6 s capped at 512; the adaptive bound
    #: — 110 at sf0.1 — shrinks the candidate join a further ~4×).
    vote_prefilter: int = 512
    #: rule scoring strategy switch: when the tag alphabet (distinct
    #: cluster_period values, ≤ grid cells × periods) fits in a long,
    #: encode sequences/antecedents as bitmasks and pick the best rule
    #: with a map-side max(struct) aggregate; above it, fall back to
    #: the explode-join + rank window (see recommend()).  Exposed as a
    #: field so tests can force the fallback and assert equivalence.
    bitmask_max_tags: int = 62
    #: "som" = distributed batch SOM (recommenders/som.py — the
    #: reference's actual algorithm family, grid-neighborhood update);
    #: "kmeans" = HashingTF+KMeans stand-in (round-1 behavior)
    cluster_method: str = "som"
    #: scale guard on the mined rule set: keep the top-N rules by
    #: (support·confidence) with a content-based (antecedent,
    #: consequent) tie-break so the cut is deterministic under any
    #: partitioning.  A well-spread clustering can make FPGrowth emit
    #: 10⁴-10⁵ rules from combinatorial frequent itemsets (measured
    #: 49 555 at sf0.01 with the SOM); every downstream cost is linear
    #: in the rule count, and low-score rules can only win for users
    #: matching nothing better — the reference has no cap only because
    #: it scores ONE user per driver call (:113-152).
    max_rules: int = 4096
    #: absolute floor on FPGrowth support: effective minSupport =
    #: max(min_support, min_support_count / n_sequences).  A purely
    #: fractional threshold degenerates on small corpora — at 150
    #: sequences, 1% support means "appears twice", and a realistic
    #: cluster spread then yields 3.2·10⁷ frequent itemsets from 150
    #: rows (measured; the lattice is exponential in sequence length).
    #: An itemset seen < this many times carries no statistical signal
    #: at any corpus size, so the floor only removes noise rules.
    #: (10 instead of 5: at 150 sequences the count-5 lattice is still
    #: 2.8M itemsets / 24M raw rules — 47 s of FPGrowth — vs 0.5M/3.6M
    #: at 10; above ~1000 sequences the relative threshold dominates
    #: and the floor is inert.)
    min_support_count: int = 10
    seed: int = 42

    # fitted state: all small-or-lazy DataFrames, nothing driver-side
    baskets_: DataFrame | None = field(default=None, repr=False)
    rules_: DataFrame | None = field(default=None, repr=False)
    sequences_: DataFrame | None = field(default=None, repr=False)
    cluster_votes_: DataFrame | None = field(default=None, repr=False)
    seen_: DataFrame | None = field(default=None, repr=False)
    #: sorted tag alphabet, collected ONCE at fit time (recommend()
    #: and rule_counts both need it; re-collecting per call paid an
    #: extra Spark job and risked the two mask builders drifting)
    tags_: list | None = field(default=None, repr=False)

    # ---------------- fit stages ----------------

    def _baskets(self, interactions: DataFrame) -> DataFrame:
        """A4: one basket per (user, ts); items kept sparse as strings
        (HashingTF input), replacing U1's dense binary vector."""
        return interactions.groupBy("user_id", "ts").agg(
            F.collect_list(F.col("item_id").cast("string")).alias("items")
        )

    def _with_periods(self, baskets: DataFrame) -> DataFrame:
        """W2/W4: n equal periods over the observed span; overflow (the
        exact max timestamp) clamps into the last period."""
        # NTZ parquet timestamps refuse a direct double cast; normalize
        # to session-TZ (UTC) timestamp first
        secs = F.col("ts").cast("timestamp").cast("double")
        bounds = baskets.agg(
            F.min(secs).alias("t0"), F.max(secs).alias("t1")
        )
        # degenerate span (every basket at one timestamp) would make
        # width 0 → 0.0/0.0 = NaN → ANSI cast crash; clamp to a
        # positive epsilon so everything lands in period 0
        width = F.greatest(
            (F.col("t1") - F.col("t0")) / self.n_periods, F.lit(1e-9)
        )
        return (
            baskets.crossJoin(F.broadcast(bounds))
            .withColumn(
                "period_id",
                F.least(
                    F.floor((secs - F.col("t0")) / width),
                    F.lit(self.n_periods - 1),
                ).cast("int"),
            )
            .drop("t0", "t1")
        )

    def _cluster(self, baskets: DataFrame) -> tuple[DataFrame, object]:
        """M12: quantize baskets into grid_height×grid_width cluster
        ids.  Default is the distributed batch SOM (real grid-
        neighborhood semantics, the reference's algorithm family —
        SequentialTopKRecommender.scala:403-416); "kmeans" keeps the
        round-1 HashingTF+KMeans stand-in.  Both deterministic for a
        fixed seed."""
        if self.cluster_method == "som":
            from .som import BatchSOM, dense_hash_features

            # persist: the batch SOM scans the features once per Lloyd
            # iteration (+1 for the final assignment); without this
            # every scan replays the whole upstream DAG (parquet →
            # ratings → baskets → hash features) — measured 176 s vs
            # ~40 s at sf0.01
            feats = materialize(
                dense_hash_features(baskets, "items", dim=self.som_hash_dim),
                owner=self,
            )
            som = BatchSOM(
                height=self.grid_height,
                width=self.grid_width,
                max_iter=self.max_iter,
                seed=self.seed,
            ).fit(feats)
            return som.transform(feats).drop("features"), som

        from pyspark.ml.clustering import KMeans
        from pyspark.ml.feature import HashingTF

        tf = HashingTF(
            inputCol="items", outputCol="features", numFeatures=self.hash_features
        )
        feats = tf.transform(baskets)
        km = KMeans(
            k=self.grid_height * self.grid_width,
            seed=self.seed,
            maxIter=self.max_iter,
            featuresCol="features",
            predictionCol="transaction_cluster",
        )
        model = km.fit(feats)
        return model.transform(feats).drop("features"), model

    def _sequences(self, clustered: DataFrame) -> DataFrame:
        """U3 as pure column ops: per user, period-ordered flat list of
        "{cluster}_{relperiod}" strings, relperiod 0 = last period.

        Clusters within a period are sorted ascending — the reference's
        flatList UDF iterates a collected Set in arbitrary order
        (SequentialTopKRecommender.scala:420-441); a deterministic
        order changes nothing for FPGrowth (itemsets are sets) but
        makes the stage reproducible and oracle-checkable."""
        per_period = clustered.groupBy("user_id", "period_id").agg(
            F.sort_array(F.collect_set("transaction_cluster")).alias("clusters")
        )
        tagged = per_period.withColumn(
            "tags",
            F.transform(
                "clusters",
                lambda c: F.concat_ws(
                    "_",
                    c.cast("string"),
                    (F.col("period_id") - F.lit(self.n_periods - 1)).cast("string"),
                ),
            ),
        )
        return tagged.groupBy("user_id").agg(
            F.flatten(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("period_id", "tags"))),
                    lambda s: s.getField("tags"),
                )
            ).alias("items")
        )

    def _mine_rules(self, sequences: DataFrame) -> DataFrame:
        """M13 + M14: FPGrowth, keep current-period consequents, strip
        current-period items from antecedents, dedupe, re-score
        support/confidence over full sequences via a broadcast join
        (replaces getSupport's collected-array closure, :492-504).

        Rule generation runs directly over ``freqItemsets`` instead of
        ``model.associationRules``: Spark's AssociationRules emits one
        candidate per (itemset, member) pair and we then discard every
        rule whose single-item consequent is not a current-period
        ("_0") tag — only ~1/n_periods of the members qualify, so
        generating from the itemsets with the consequent filter pushed
        INTO the explode does ~n_periods× less candidate-join work for
        a byte-identical rule set (same freq(Z)/freq(X) confidence,
        same ≥ minConfidence gate, same canonical item order — X is
        Z minus the consequent with relative order preserved, exactly
        what AssociationRules produces)."""
        from pyspark.ml.fpm import FPGrowth

        # clamp to 1.0: on a corpus smaller than the count floor the
        # floor would exceed valid support (and a tiny corpus needs no
        # lattice guard anyway)
        n_seq = sequences.count()
        eff_support = (
            min(1.0, max(self.min_support, self.min_support_count / n_seq))
            if n_seq
            else self.min_support
        )
        fp = FPGrowth(
            itemsCol="items",
            minSupport=eff_support,
            minConfidence=self.min_confidence,
        )
        model = fp.fit(sequences)
        # the antecedent-frequency join scans the itemset lattice twice
        # in ONE action
        freq = materialize(model.freqItemsets, owner=self, eager=True)
        # one candidate per (itemset Z, current-period member y):
        # antecedent X = Z \ {y} keeping Z's canonical order, joined
        # back on the (order-normalized) lattice for freq(X)
        cand = (
            freq.select(
                "items",
                F.col("freq").alias("freq_z"),
                F.explode(
                    F.filter("items", lambda x: x.endswith("_0"))
                ).alias("y"),
            )
            .withColumn("antecedent_pre", F.expr("array_remove(items, y)"))
            .where(F.size("antecedent_pre") > 0)
        )
        lookup = freq.select(
            F.sort_array("items").alias("_xkey"),
            F.col("freq").alias("freq_x"),
        )
        rules_pre = (
            cand.withColumn("_xkey", F.sort_array("antecedent_pre"))
            .join(lookup, "_xkey")
            .where(
                F.col("freq_z") / F.col("freq_x") >= F.lit(self.min_confidence)
            )
            .select(
                "antecedent_pre",
                F.array("y").alias("consequent"),
                (
                    (F.col("freq_z") / F.lit(float(max(n_seq, 1))))
                    * (F.col("freq_z") / F.col("freq_x"))
                ).alias("_sc"),
            )
        )
        stripped = (
            rules_pre.withColumn(
                "antecedent",
                F.filter("antecedent_pre", lambda x: ~x.endswith("_0")),
            )
            .where(F.size("antecedent") > 0)
            # distinct pairs, keeping the strongest pre-strip metrics
            # as the capping key
            .groupBy("antecedent", "consequent")
            .agg(F.max(F.col("_sc")).alias("_pre"))
        )
        if self.max_rules is not None:
            # top-N by FPGrowth strength, content-based tie-break →
            # deterministic under any partitioning; planned as a
            # distributed TakeOrderedAndProject, not a global-sort
            # window.  The exact re-score below runs on the survivors.
            stripped = stripped.orderBy(
                F.desc("_pre"),
                F.concat_ws(" ", "antecedent"),
                F.concat_ws(" ", "consequent"),
            ).limit(self.max_rules)
        # cache: the capped rule set (≤ max_rules rows) feeds BOTH the
        # rule_counts subtree and the final score join; without this
        # the whole FPGrowth associationRules generation (~850k raw
        # rules at sf0.1) plus the strip/cap sort re-executes once per
        # consumer — and monotonically_increasing_id must be computed
        # exactly once for the ids to be consistent across consumers
        rules = materialize(
            stripped.drop("_pre").withColumn(
                "rule_id", F.monotonically_increasing_id()
            ),
            owner=self,
        )

        if n_seq == 0:
            return rules.withColumn("support", F.lit(0.0)).withColumn(
                "confidence", F.lit(0.0)
            )

        # J6: subset test via bitmask containment / tag-join fallback
        # (rule_counts) over broadcast rules
        counts = rule_counts(
            sequences, rules, self.bitmask_max_tags, tags=self.tags_
        )
        scored = (
            rules.join(counts, "rule_id")
            .withColumn("support", F.col("n_xy") / F.lit(float(n_seq)))
            .withColumn(
                "confidence",
                F.when(F.col("n_ant") > 0, F.col("n_xy") / F.col("n_ant")).otherwise(
                    F.lit(0.0)
                ),
            )
            .where(
                (F.col("support") > self.min_support_seq)
                & (F.col("confidence") > self.min_confidence_seq)
            )
            .select("rule_id", "antecedent", "consequent", "support", "confidence")
        )
        return scored

    def fit(self, interactions: DataFrame) -> "SequentialTopK":
        """Fit on ``(user_id, item_id, ts)`` interactions.

        Each cached stage is materialized eagerly (a count() on a
        bounded result: cluster assignments = |baskets| small rows,
        sequences = |users|, rules ≤ max_rules, votes ≤
        clusters×vote_prefilter) — so (a) the final recommend() action
        composes cache READS instead of re-deriving every stage inside
        one job, and (b) each stage's wall-clock is a phase
        (``cluster`` / ``sequences`` / ``rules`` / ``seen`` /
        ``votes``), giving bench.py the stage breakdown the 28-40 s
        run-to-run spread needs for diagnosis."""
        with phase("cluster"):  # SOM codebook fit (eager); assignment stays lazy
            # persist: _with_periods consumes baskets twice (the 1-row
            # span-bounds aggregate + the main branch), which would
            # re-run the upstream interactions join + basket groupBy
            baskets = materialize(self._baskets(interactions), owner=self)
            with_periods = self._with_periods(baskets)
            clustered, _ = self._cluster(with_periods)
            clustered = materialize(clustered, owner="sequential")

        self.baskets_ = clustered
        with phase("sequences"):
            # O(users) rows; materializing sequences ALSO writes
            # clustered's cache blocks (first scan of a cached plan
            # materializes it) — no separate clustered.count() pass
            # needed
            self.sequences_ = materialize(
                self._sequences(clustered), owner="sequential", eager=True
            )
            # the tag alphabet (≤ grid cells × periods values) is fixed
            # once sequences exist — collect it ONCE for both
            # rule_counts (fit) and recommend() mask building
            self.tags_ = sorted(
                r["t"]
                for r in self.sequences_.select(
                    F.explode("items").alias("t")
                )
                .distinct()
                .collect()
            )
        with phase("rules"):
            self.rules_ = materialize(  # ≤ max_rules rows
                self._mine_rules(self.sequences_), owner="sequential", eager=True
            )

        # seen = distinct (user, item): derive it from the CACHED
        # clustered baskets (they hold every interaction's item string,
        # grouped per basket) instead of re-running the raw
        # interactions join inside the recommend action — the parquet
        # rescan was the recommend stage's dominant run-to-run swing.
        # Built BEFORE the vote pool (r15) so max_user_items below is
        # one tiny aggregate over this cache instead of a second full
        # scan + join of the raw interactions.
        with phase("seen"):
            self.seen_ = materialize(
                clustered.select("user_id", F.explode("items").alias("item_id"))
                .distinct(),
                owner="sequential",
                eager=True,
            )

        # candidate pool: items of last-period transactions, voted per
        # cluster (reference transform :126-149, A9); pre-ranked to the
        # top k_items + max(items/user) per cluster (see field
        # docstring — provably exact: a user can displace at most their
        # own seen count from the top list, and the rank order equals
        # the final ranking order so truncation never reorders)
        # seen_ rows ARE the distinct (user, item) pairs (collect_list
        # drops nulls exactly as count_distinct ignores them, and the
        # string cast is injective), so max items/user is a count over
        # the cache — identical value to the old count_distinct over
        # the raw interactions join.
        with phase("votes"):
            max_user_items = (
                self.seen_.groupBy("user_id")
                .agg(F.count("*").alias("n"))
                .agg(F.max("n"))
                .collect()[0][0]
                or 0
            )  # one scalar — O(1) driver state
            eff_prefilter = min(self.vote_prefilter, self.k_items + max_user_items)
            last = clustered.where(F.col("period_id") == self.n_periods - 1)
            votes = (
                last.select(
                    "transaction_cluster", F.explode("items").alias("item_id")
                )
                .groupBy("transaction_cluster", "item_id")
                .agg(F.count("*").alias("votes"))
            )
            wv = Window.partitionBy("transaction_cluster").orderBy(
                F.desc("votes"), F.asc("item_id")
            )
            self.cluster_votes_ = materialize(  # ≤ clusters × vote_prefilter rows
                votes.withColumn("_vr", F.row_number().over(wv))
                .where(F.col("_vr") <= eff_prefilter)
                .drop("_vr"),
                owner="sequential",
                eager=True,
            )
        # every model DataFrame (baskets_/sequences_/rules_/votes/seen)
        # is materialized above — the fit-scoped intermediates
        # (baskets, SOM features, FPGrowth lattice, intermediate rule
        # set), owned by this instance, can go
        release(self)
        return self

    # ---------------- recommend ----------------

    def recommend(self) -> DataFrame:
        """Top-K per user: best-matching rule picks a consequent
        cluster; that cluster's most-voted unseen items win
        (reference :113-152,183-239 — one user per call there, all
        users in one plan here).

        Returns ``(user_id, item_id, score, rank)``; item_id is the
        string form of the original id.
        """
        if self.rules_ is None:
            raise RuntimeError("fit() first")

        # score every rule for every user: |antecedent ∩ items| · s · c,
        # then keep each user's best (score desc, cluster asc, rule asc).
        #
        # The tag alphabet is tiny (≤ clusters × periods values), so the
        # "sparse" explode-join on shared tags is actually DENSE: at
        # sf0.1, 15k users × 4096 rules produced 60.8M matched groups —
        # a 60M-row shuffle into a 60M-row rank window.  When the
        # alphabet fits in a long (≤62 tags — true for any realistic
        # grid×periods config) we instead encode each sequence and each
        # antecedent as a BITMASK: intersection size = bit_count(m & r),
        # the best rule is a max(struct) aggregate — partial aggregation
        # collapses each map partition to its distinct users BEFORE the
        # shuffle, so the exchange carries ~|users| rows, not 60M, and
        # no sort happens at all (measured 7.4 s → 2.2 s at sf0.1,
        # bit-identical output incl. tie-breaks).  >62 tags falls back
        # to the explode-join + rank window.
        if self.tags_ is not None:
            tags = self.tags_  # collected once at fit time
        else:
            tag_rows = (
                self.sequences_.select(F.explode("items").alias("t"))
                .distinct()
                .collect()
            )  # bounded by the tag alphabet, never by data
            tags = sorted(r["t"] for r in tag_rows)
        cc = F.split(F.element_at("consequent", 1), "_").getItem(0).cast("int")
        if len(tags) <= self.bitmask_max_tags:
            lits: list = []
            for i, tg in enumerate(tags):
                lits += [F.lit(tg), F.lit(1 << i)]
            mp = F.create_map(*lits)

            def mask(col):
                # unmapped antecedent tags (never seen in any sequence)
                # contribute 0 bits — they can't match anyone anyway
                return F.aggregate(
                    col,
                    F.lit(0).cast("long"),
                    lambda acc, x: acc.bitwiseOR(
                        F.coalesce(F.element_at(mp, x), F.lit(0).cast("long"))
                    ),
                )

            um = self.sequences_.select(
                "user_id", mask(F.col("items")).alias("mseq")
            )
            rm = self.rules_.select(
                F.col("rule_id"),
                mask(F.col("antecedent")).alias("mant"),
                "support",
                "confidence",
                cc.alias("cc"),
            )
            sc = (
                F.bit_count(F.col("mseq").bitwiseAND(F.col("mant")))
                * F.col("support")
                * F.col("confidence")
            )
            # r14: score DISTINCT sequence masks, not users.  The best
            # rule is a pure function of the mask, and masks repeat
            # (the same insight rule_counts already exploits: its
            # exchange carries distinct masks); the argmax attaches
            # back to users by an equi-join on the mask.  Tie-break
            # note: the original argmax was max by (s desc, cc asc,
            # rule_id asc) emitting only cc — per cc keep max s, then
            # max by (s desc, cc asc) emits the identical cc, so the
            # rule_id component is redundant for the output.
            #
            # Two hazards shaped this plan (measured, OPTIMIZATION_r14):
            # 1. AQE coalesces the tiny post-distinct exchange to ONE
            #    partition, serializing the masks × rules nested-loop
            #    expansion on a single core (sequential_topk 58 s →
            #    223-259 s in the first cut).  The keyless repartition
            #    to the default parallelism is applied AFTER distinct
            #    (so it is not AQE-coalesced away) and costs ~|masks|
            #    rows.
            # 2. max(struct) has no mutable-buffer hash path:
            #    ObjectHashAggregate falls back to SORT-based
            #    aggregation at 128 groups per task
            #    (...objectHashAggregate.sortBased.fallbackThreshold),
            #    which spilled 2.4 GB at sf0.1.  groupBy(mseq, cc) →
            #    max(double) is a pure codegen HashAggregate with
            #    map-side partial aggregation; the struct argmax then
            #    runs over ≤ |masks| × |clusters| pre-aggregated rows.
            par = um.sparkSession.sparkContext.defaultParallelism
            dm = um.select("mseq").distinct().repartition(par)
            best_mask = (
                dm.crossJoin(F.broadcast(rm))
                .where(sc > 0)
                .groupBy("mseq", "cc")
                .agg(F.max(sc).alias("s"))
                .groupBy("mseq")
                .agg(
                    F.max(
                        F.struct(
                            F.col("s"),
                            (-F.col("cc")).alias("nc"),
                            F.col("cc").alias("c"),
                        )
                    ).alias("b")
                )
                .select("mseq", F.col("b.c").alias("consequent_cluster"))
            )
            best = um.join(best_mask, "mseq").select(
                "user_id", "consequent_cluster"
            )
        else:
            useq = self.sequences_.select(
                "user_id", F.explode("items").alias("tag")
            )
            rtag = self.rules_.select(
                "rule_id", F.explode("antecedent").alias("tag")
            )
            match = (
                useq.join(F.broadcast(rtag), "tag")
                .groupBy("user_id", "rule_id")
                .agg(F.count("*").alias("match"))
            )
            scored = (
                match.join(F.broadcast(self.rules_), "rule_id")
                .withColumn(
                    "rule_score",
                    F.col("match") * F.col("support") * F.col("confidence"),
                )
                .where(F.col("rule_score") > 0)
                .withColumn("consequent_cluster", cc)
            )
            w = Window.partitionBy("user_id").orderBy(
                F.desc("rule_score"),
                F.asc("consequent_cluster"),
                F.asc("rule_id"),
            )
            best = (
                scored.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") == 1)
                .select("user_id", "consequent_cluster")
            )

        cand = best.join(
            self.cluster_votes_,
            best.consequent_cluster == self.cluster_votes_.transaction_cluster,
        ).select("user_id", "item_id", F.col("votes").cast("double").alias("score"))
        fresh = cand.join(self.seen_, ["user_id", "item_id"], "left_anti")
        wk = Window.partitionBy("user_id").orderBy(F.desc("score"), F.asc("item_id"))
        return (
            fresh.withColumn("rank", F.row_number().over(wk))
            .where(F.col("rank") <= self.k_items)
            .select("user_id", "item_id", "score", "rank")
        )
