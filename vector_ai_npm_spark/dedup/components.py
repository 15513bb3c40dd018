"""Connected components over near-duplicate pairs (B18 closing step).

A candidate-pair list is not yet a deduplication: clusters form by
TRANSITIVITY (A~B, B~C ⇒ {A,B,C} share one canonical doc even if A,C
never paired). This module turns any pair relation into a per-doc
component id — the step that makes minhash/simhash/embedding pairs an
actionable "keep one per cluster" decision.

Reference context: the reference dedups only by exact content match at
query time (vector-client.ts:436-444 groups retrieved chunks by their
shared parent context string); corpus-level near-dup clustering has no
reference equivalent — it is north-star scope.

Algorithm: iterative min-label propagation WITH POINTER JUMPING.
Every vertex starts labeled with itself; each round every vertex takes
the min of its own and its neighbors' labels, then jumps its label to
its label's label (labels are always vertex ids, so the label relation
is itself a forest to hop through). Neighbor-min alone needs
diameter rounds (a 1000-link chain = 1000 shuffles); the jump doubles
the propagation distance per round, giving O(log n) convergence on any
shape — the same guarantee the small-star/large-star formulation gets,
with simpler joins. Verified on chains/stars/random graphs against a
union-find reference (tests/test_components_properties.py).

Scale notes: each round is two key-joins + one aggregate (all shuffles
on vertex/label ids — never a cartesian). For near-dup clusters
(near-cliques, diameter ≲ 3) it converges in 2-3 rounds either way.
Lineage is cut every round with localCheckpoint — without it the plan
doubles per iteration and planning time explodes by round ~8.

Also here: `er_cluster_mentions`, with its notes in a comment above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query

_SUM_UNSET = object()  # convergence-sum sentinel (see the round loop)


def connected_components(
    pairs: DataFrame,
    src: str = "doc_id_a",
    dst: str = "doc_id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(src, dst) pairs → (doc_id, component_id) for every vertex that
    appears in any pair; component_id = min doc_id of the component."""
    edges = (
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .localCheckpoint()
    )
    labels = edges.select(F.col("s").alias("v")).distinct().select(
        "v", F.col("v").alias("label")
    )
    prev_sum: object = _SUM_UNSET
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.d == labels.v)
            .groupBy("s")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, labels.v == nbr_min.s, "left").select(
            "v",
            F.least(
                F.col("label"), F.coalesce("nbr_label", F.col("label"))
            ).alias("label"),
        )
        # pointer jump: label[v] := label[label[v]] — labels are vertex
        # ids, so self-joining the label relation doubles propagation
        # distance per round (O(log n) rounds on chains vs O(n) without)
        lv = stepped.select(
            F.col("v").alias("jv"), F.col("label").alias("jlabel")
        )
        new_labels = (
            stepped.join(lv, stepped.label == lv.jv, "left")
            .select(
                "v",
                F.least(
                    F.col("label"), F.coalesce("jlabel", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=False)  # lazy: the convergence
            # aggregate below is the materializing action, so lineage
            # is cut at ONE job per round instead of checkpoint + check
        )
        # Convergence witness (r14): labels only ever DECREASE (every
        # update is a least() against the previous value over a fixed
        # vertex set), so an unchanged exact label SUM proves no vertex
        # changed — replacing the old per-round new⋈old join+count with
        # one aggregate that doubles as the checkpoint materializer.
        # decimal(38,0) keeps the sum exact at any vertex-id magnitude.
        lsum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        labels = new_labels
        # sentinel start: the first round can never false-break, and an
        # EMPTY vertex set (sum NULL every round) still terminates on
        # the second round's NULL == NULL
        if lsum == prev_sum:
            break
        prev_sum = lsum
    return labels.select(F.col("v").alias("doc_id"), F.col("label").alias("component_id"))


def assign_components(
    docs: DataFrame, pairs: DataFrame, doc_id: str = "doc_id"
) -> DataFrame:
    """Every doc gets a component id (its own id when unpaired) plus the
    is_canonical flag a keep-one-per-cluster filter consumes."""
    comp = connected_components(pairs)
    return (
        docs.select(doc_id)
        .join(comp, on=doc_id, how="left")
        .select(
            doc_id,
            F.coalesce("component_id", F.col(doc_id)).alias("component_id"),
        )
        .withColumn("is_canonical", F.col(doc_id) == F.col("component_id"))
    )


# `er_cluster_mentions` composes the three classic ER stages the repo
# already has the primitives for (the Fellegi-Sunter pipeline shape
# every MDM/record-linkage system runs):
#
# 1. BLOCKING: candidate pairs only within a cheap key (here the
#      4-char name prefix) — the step that turns O(n²) comparisons into
#      per-block (block size)², the dedup family's inverted-index move
#      re-applied to entity records;
# 2. SCORING: Levenshtein ≤ 1 on the blocked pairs — classic edit
#      distance is a deterministic integer in both engines (Spark
#      `levenshtein`, DuckDB `levenshtein`), so the match set is
#      hash-exact, no float similarity thresholds;
# 3. CLUSTERING: transitive closure over matches via the existing
#      min-label propagation (dedup.components), min-id canonical.
#
# Fixture: each customer spawns 1-3 "mention" records over a
# high-entropy md5-derived name (exact / drop-a-char / append-a-char —
# typos positioned past the blocking prefix).  Variants must re-cluster
# to their customer THROUGH the base mention (drop↔append are distance
# 2 apart — only the hub edge connects them, which is exactly what the
# transitive stage is for), while distinct customers' md5 names sit far
# beyond the threshold, so precision is structural, not lucky.
#
# Scale shape: mention synthesis is JVM string functions; pairs are a
# block-keyed self-join (never cross-block); components are the shared
# min-label rounds.  At 100 TB the block key is the knob — same plan.
#
# SKEW GUARD (round 11, r10 verdict item 5): per-block pair work is
# occupancy², so one hot surname-style block goes quadratic on a real
# corpus.  Blocks over ER_BLOCK_BUDGET records route to a
# deletion-neighborhood inverted index instead of the self-join
# (`_er_pairs`): exact-duplicate names collapse to a per-(block, name)
# representative (star edges, linear), and each DISTINCT name emits
# itself plus its |name| single-deletion variants as join keys — two
# names at Levenshtein ≤ 1 provably share a key (equal → the name
# itself; substitution at i → both delete i; insertion → the longer's
# deletion IS the shorter), so candidates are collision-bound instead of
# occupancy²-bound and the exact levenshtein post-filter keeps precision.
# Connectivity (and therefore every component id and canonical flag) is
# IDENTICAL to the brute-force block join, so the driver hash is
# unchanged; tests/test_wave59.py proves pair-set equality on a planted
# hot block.  This is the join_skew_salted discipline applied to ER:
# bounded per-key work, no all-pairs anywhere.

# blocks larger than this route through the deletion-key index; under
# it the plain per-block self-join is cheaper (no key explosion)
ER_BLOCK_BUDGET = 64

# mention name base: 12 hex chars of md5(custkey) — high entropy, so
# distinct customers are >> threshold apart; typos hit position 6/9
# (inside the name, past the 4-char blocking prefix)
_MENTION_SQL = """
      SELECT c_custkey * 4 + 0 AS doc_id,
             substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) AS name
      FROM customer
      UNION ALL
      SELECT c_custkey * 4 + 1,
             substr(md5(CAST(c_custkey AS VARCHAR)), 1, 5)
               || substr(md5(CAST(c_custkey AS VARCHAR)), 7, 6)
      FROM customer WHERE c_custkey % 2 = 0
      UNION ALL
      SELECT c_custkey * 4 + 2,
             substr(md5(CAST(c_custkey AS VARCHAR)), 1, 12) || 'z'
      FROM customer WHERE c_custkey % 3 = 0
"""


def _mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    name = F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 12)
    base = cust.select(
        (F.col("c_custkey") * 4).alias("doc_id"), name.alias("name")
    )
    dropped = cust.where(F.col("c_custkey") % 2 == 0).select(
        (F.col("c_custkey") * 4 + 1).alias("doc_id"),
        F.concat(
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 5),
            F.substring(F.md5(F.col("c_custkey").cast("string")), 7, 6),
        ).alias("name"),
    )
    appended = cust.where(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") * 4 + 2).alias("doc_id"),
        F.concat(name, F.lit("z")).alias("name"),
    )
    return base.unionByName(dropped).unionByName(appended)


def _er_pairs(mentions: DataFrame, budget: int = ER_BLOCK_BUDGET) -> DataFrame:
    """Levenshtein-≤1 candidate pairs within 4-char-prefix blocks,
    skew-guarded: small blocks self-join, over-budget blocks go through
    the deletion-neighborhood index (see the notes above for the
    recall proof).  Returns (doc_id_a < doc_id_b) edges whose transitive
    closure equals the brute-force block join's."""
    m = mentions.select(
        "doc_id", "name", F.substring("name", 1, 4).alias("block")
    )
    sizes = m.groupBy("block").agg(F.count("*").alias("_bn"))
    m = m.join(sizes, "block")
    small = m.where(F.col("_bn") <= budget).drop("_bn")
    big = m.where(F.col("_bn") > budget).drop("_bn")

    # --- small route: per-block self-join (occupancy ≤ budget) ---
    a = small.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("name").alias("name_a"),
        "block",
    )
    b = small.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("name").alias("name_b"),
        "block",
    )
    small_pairs = (
        a.join(b, "block")
        .where(
            (F.col("doc_id_a") < F.col("doc_id_b"))
            & (F.levenshtein("name_a", "name_b") <= 1)
        )
        .select("doc_id_a", "doc_id_b")
    )

    # --- big route: exact-dup collapse + deletion-key inverted index ---
    reps = big.groupBy("block", "name").agg(F.min("doc_id").alias("rep_id"))
    # star edges: every duplicate mention to its representative (lev 0);
    # rep_id = min(doc_id) per name, so rep_id < doc_id always holds
    star = (
        big.join(reps, ["block", "name"])
        .where(F.col("doc_id") != F.col("rep_id"))
        .select(
            F.col("rep_id").alias("doc_id_a"),
            F.col("doc_id").alias("doc_id_b"),
        )
    )
    # name + every single-deletion variant, all JVM-side (codegen)
    del_keys = F.expr(
        """
        array_union(
          array(name),
          CASE WHEN length(name) >= 1 THEN
            transform(sequence(1, length(name)),
                      i -> concat(substr(name, 1, i - 1), substr(name, i + 1)))
          ELSE array() END
        )
        """
    )
    keys = reps.select(
        "block", "name", "rep_id", F.explode(del_keys).alias("k")
    )
    x = keys.select(
        "block", "k",
        F.col("rep_id").alias("doc_id_a"), F.col("name").alias("name_a"),
    )
    y = keys.select(
        "block", "k",
        F.col("rep_id").alias("doc_id_b"), F.col("name").alias("name_b"),
    )
    big_pairs = (
        x.join(y, ["block", "k"])
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b", "name_a", "name_b")
        .distinct()  # a pair can collide on several deletion keys
        .where(F.levenshtein("name_a", "name_b") <= 1)
        .select("doc_id_a", "doc_id_b")
    )
    return small_pairs.unionByName(star).unionByName(big_pairs)


@query(
    "er_cluster_mentions",
    oracle=f"""
    WITH RECURSIVE mentions AS ({_MENTION_SQL}),
    blocked AS (
      SELECT a.doc_id AS s, b.doc_id AS d
      FROM mentions a JOIN mentions b
        ON substr(a.name, 1, 4) = substr(b.name, 1, 4)
       AND a.doc_id < b.doc_id
       AND levenshtein(a.name, b.name) <= 1
    ),
    edges AS (SELECT s, d FROM blocked UNION SELECT d, s FROM blocked),
    reach(v, r) AS (
      SELECT s, s FROM edges
      UNION
      SELECT e.s, reach.r FROM edges e JOIN reach ON e.d = reach.v
    ),
    comp AS (SELECT v, MIN(r) AS component_id FROM reach GROUP BY v)
    SELECT m.doc_id AS mention_id,
           COALESCE(c.component_id, m.doc_id) AS entity_id,
           m.doc_id = COALESCE(c.component_id, m.doc_id) AS is_canonical
    FROM mentions m LEFT JOIN comp c ON m.doc_id = c.v
    """,
)
def er_cluster_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking + Levenshtein + components ER — see the notes above.
    Any defect — a block key that splits a cluster, a threshold slip,
    a closure round short — moves an entity_id and fails the hash."""

    mentions = _mentions(spark, sf_dir)
    pairs = _er_pairs(mentions)
    out = assign_components(mentions, pairs)
    return out.select(
        F.col("doc_id").alias("mention_id"),
        F.col("component_id").alias("entity_id"),
        "is_canonical",
    )
