"""CF pair-join crossover stress (r8): the r5 verdict shipped the
sign-LSH candidate switch "for the regime where Σ_key n_key² outgrows
the linear signature pass" — asserted from the sf0.1 measurement where
EXACT wins 2×, never measured at the crossover.  This generates a
clustered rating matrix ~8× the sf0.1 CF density (the angular
structure real rating data has — the r5 recall-fixture design, scaled
and generated IN Spark), runs both paths cold, and records walls,
pair/candidate counts, and LSH recall on the high-similarity pairs.

Layout: C clusters × UPC users; cluster c owns items [c·IPC, (c+1)·IPC);
each user rates a deterministic ~80% of their cluster's items (shared
taste vector + hash noise) plus RAND_K random items from the global
pool.  Within-cluster cosine lands ~0.7-0.9; cross-cluster pairs are
angular noise.
"""
import sys, time
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "32")
         # the exact path aggregates >100M distinct pair keys — at the
         # default 4g heap it OOMs outright (first measured result of
         # this stress); 24g gives it a fair fight
         .config("spark.driver.memory", "24g")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

C, UPC, IPC, RAND_K = 200, 150, 60, 12
N_ITEMS = C * IPC

u = spark.range(C * UPC).select(
    F.col("id").alias("user_id"),
    (F.col("id") / UPC).cast("int").alias("c"),
)
# within-cluster slots: item j of the user's cluster, kept with p=0.8
within = (
    u.select("user_id", "c", F.explode(F.sequence(F.lit(0), F.lit(IPC - 1))).alias("j"))
    .where(F.pmod(F.xxhash64("user_id", "j", F.lit("keep")), 10) < 8)
    .select(
        "user_id",
        (F.col("c") * IPC + F.col("j")).alias("item_id"),
        # shared cluster taste for item j + per-user noise, clipped to [1, 5]
        F.greatest(
            F.lit(1.0),
            F.least(
                F.lit(5.0),
                (F.pmod(F.xxhash64(F.col("c") * IPC + F.col("j"), F.lit("pref")), 400)
                 / 100.0 + 1.0)
                + (F.pmod(F.xxhash64("user_id", "j", F.lit("noise")), 61) - 30) / 100.0,
            ),
        ).alias("rating"),
    )
)
rand = (
    u.select("user_id", F.explode(F.sequence(F.lit(0), F.lit(RAND_K - 1))).alias("j"))
    .select(
        "user_id",
        F.pmod(F.xxhash64("user_id", "j", F.lit("rand")), N_ITEMS).alias("item_id"),
        (F.pmod(F.xxhash64("user_id", "j", F.lit("rv")), 400) / 100.0 + 1.0).alias("rating"),
    )
)
ratings = within.unionByName(rand).dropDuplicates(["user_id", "item_id"])
path = "/tmp/cf_crossover_ratings"
ratings.repartition(32).write.mode("overwrite").parquet(path)
r = spark.read.parquet(path)
n = r.count()
stats = r.groupBy("item_id").count().agg(
    F.sum(F.col("count") * F.col("count")).alias("sum_sq"),
    F.max("count").alias("hot"),
).collect()[0]
print(f"ratings {n} over {C*UPC} users x {N_ITEMS} items; "
      f"exact pair-join size Sum n_item^2 = {stats['sum_sq']:,} "
      f"(hottest item {stats['hot']} raters)", flush=True)

from recsys_spark_spark.functions.similarity import pairwise_similarity
from recsys_spark_spark.lifecycle import release
from recsys_spark_spark.operators.cf_lsh import lsh_pairwise_similarity

t0 = time.perf_counter()
exact = pairwise_similarity(r, "cosine", "user", directed=False)
n_exact = exact.count()
t_exact = time.perf_counter() - t0
print(f"EXACT co-rated self-join: {t_exact:.1f}s -> {n_exact:,} pairs", flush=True)

t0 = time.perf_counter()
lsh = lsh_pairwise_similarity(r, "cosine", "user", directed=False)
n_lsh = lsh.count()
t_lsh = time.perf_counter() - t0
print(f"LSH candidate path: {t_lsh:.1f}s -> {n_lsh:,} candidate pairs "
      f"({n_lsh / max(1, n_exact):.3f}x of exact)", flush=True)

# recall on the pairs that matter: high-similarity (within-cluster)
TAU = 0.6
hi = exact.where(F.col("sim") >= TAU).select("user_a", "user_b")
n_hi = hi.count()
found = hi.join(
    lsh.where(F.col("sim") >= TAU).select("user_a", "user_b"),
    ["user_a", "user_b"],
    "left_semi",
).count()
print(f"recall on sim >= {TAU}: {found}/{n_hi} = {found / max(1, n_hi):.3f}",
      flush=True)
release("cf_lsh")
verdict = "LSH WINS" if t_lsh < t_exact else "EXACT WINS"
print(f"CROSSOVER VERDICT at this density: {verdict} "
      f"(exact {t_exact:.1f}s vs lsh {t_lsh:.1f}s)", flush=True)


# ---- phase 2: hot keys, the ACTUAL crossover driver -------------------------
# Aggregate density wasn't it (exact won 13x above).  Inject 10 items
# rated by every 2nd user (n = 15k raters each): the exact join's
# Sum n_k^2 jumps by 10 x 2.25e8 = 2.25e9 pairs from ten keys alone,
# while the LSH signature pass only grows by the 150k new ratings
# (its cost is per-RATING, per-plane — independent of key hotness).
hot = (
    u.where(F.pmod(F.col("user_id"), 2) == 0)
    .select("user_id", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("h"))
    .select(
        "user_id",
        (F.lit(N_ITEMS) + F.col("h")).alias("item_id"),
        (F.pmod(F.xxhash64("user_id", "h", F.lit("hv")), 400) / 100.0 + 1.0
         ).alias("rating"),
    )
)
r2_path = "/tmp/cf_crossover_ratings_hot"
spark.read.parquet(path).unionByName(hot).repartition(32).write.mode(
    "overwrite"
).parquet(r2_path)
r2 = spark.read.parquet(r2_path)
s2 = r2.groupBy("item_id").count().agg(
    F.sum(F.col("count") * F.col("count")).alias("sum_sq"),
    F.max("count").alias("hot"),
).collect()[0]
print(f"\nphase 2: +10 hot items -> {r2.count():,} ratings, "
      f"Sum n_k^2 = {s2['sum_sq']:,} (hottest {s2['hot']:,} raters)",
      flush=True)

t0 = time.perf_counter()
try:
    n_exact2 = pairwise_similarity(r2, "cosine", "user", directed=False).count()
    t_exact2 = time.perf_counter() - t0
    print(f"EXACT with hot keys: {t_exact2:.1f}s -> {n_exact2:,} pairs", flush=True)
except Exception as ex:
    t_exact2 = time.perf_counter() - t0
    print(f"EXACT with hot keys: DNF after {t_exact2:.1f}s ({str(ex)[:120]})",
          flush=True)

t0 = time.perf_counter()
n_lsh2 = lsh_pairwise_similarity(r2, "cosine", "user", directed=False).count()
t_lsh2 = time.perf_counter() - t0
print(f"LSH with hot keys: {t_lsh2:.1f}s -> {n_lsh2:,} pairs", flush=True)
release("cf_lsh")
print("note: the engine's production guidance stands regardless — "
      "max_raters_per_item caps hot keys for BOTH paths; this phase "
      "measures the uncapped regime the r5 claim was about", flush=True)
