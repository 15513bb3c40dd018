"""C4-style repeated-line removal (wave 3): the web-corpus boilerplate
screen that deletes any "line" occurring three or more times across the
corpus (Raffel et al. 2020, C4 §2.2; CCNet's paragraph hashing is the
same op at paragraph granularity), then reassembles the cleaned text.
This is the one dedup face the family lacked: span/minhash/simhash
REPORT duplication, this one REWRITES the corpus — nav bars, cookie
banners, and footer text vanish while each document keeps its unique
prose.  Reference scope note: the reference has no corpus-curation
surface (vector-client.ts is a RAG client); this extends the curation
family (text/curation.py).

"Line" here is a documented surrogate: the fixture corpus has no
newlines (TESTDATA.md word-salad), so a line is a NON-OVERLAPPING
10-token segment.  In production the segmenter swaps for
``split(text, '\\n')`` — every downstream step (hash count, anti-join,
ordered reassembly) is segmenter-agnostic.

Scale design (100 TB): document text never shuffles for the frequency
count — the corpus side computes md5(line) map-side and ships ONLY the
16-byte hash to the count (narrow shuffle, the dedup_minhash decision);
the boilerplate set (lines with freq ≥ 3) is small by nature (it's the
repeated matter) and broadcasts back as an anti-join build side, so the
only wide shuffle carrying text is the final doc-keyed reassembly, where
each kept line rides exactly once.  A pathological corpus whose
boilerplate set outgrows the broadcast budget routes the anti-join
through a shuffled LeftAnti on the hash key — same semantics, flagged
by the broadcast-threshold conf, not a code change.

Hash-collision caveat: the Spark side counts md5(line) while the DuckDB
oracle counts raw line text, so two DISTINCT lines colliding on md5
would merge their counts and could misclassify a rare line as
boilerplate (and break the oracle match).  This is the same deliberate
16-byte-vs-full-text trade the MinHash/SimHash family makes: at 2^-128
per pair the expected collision count is zero for any corpus that fits
on Earth, and the narrow shuffle it buys is the whole scale design.
Paranoid deployments can widen the key to (length(line), md5(line))
for free — length is already computed map-side.

Also here: `dedup_exact_substring`, with its notes in a comment above
it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vector_ai_npm_spark.io.sources import load_table
from vector_ai_npm_spark.registry import query
from vector_ai_npm_spark.text.queries import _DUCK_TOKS, _SPARK_TOKS

_W = 10        # tokens per surrogate line
_MIN_FREQ = 3  # C4's "three or more times" rule

# filtered array of 10-token segment strings, '' (empty-doc) dropped
_SPARK_LINES = (
    f"filter(transform(sequence(1, greatest(cast(ceil(size({_SPARK_TOKS})"
    f" / {_W}.0) as int), 1)), i -> array_join(slice({_SPARK_TOKS},"
    f" (i-1)*{_W}+1, {_W}), ' ')), l -> l != '')"
)


@query(
    "curate_line_dedup",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    seg AS (
      SELECT doc_id, CAST(r.i AS BIGINT) AS seg_idx,
             array_to_string(list_slice(toks, (r.i-1)*{_W}+1, r.i*{_W}), ' ')
               AS line
      FROM t CROSS JOIN
        UNNEST(range(1, CAST(ceil(len(toks)/{_W}.0) AS BIGINT) + 1)) AS r(i)
    ),
    seg2 AS (SELECT * FROM seg WHERE line <> ''),
    freq AS (
      SELECT line FROM seg2 GROUP BY line HAVING COUNT(*) >= {_MIN_FREQ}
    ),
    kept AS (
      SELECT doc_id, seg_idx, line FROM seg2
      WHERE line NOT IN (SELECT line FROM freq)
    ),
    nl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines
      FROM seg2 GROUP BY doc_id
    ),
    ka AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
             string_agg(line, ' ' ORDER BY seg_idx ASC) AS clean_text
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(nl.n_lines, 0) AS n_lines,
           COALESCE(ka.n_kept, 0) AS n_kept,
           COALESCE(ka.clean_text, '') AS clean_text
    FROM documents d
    LEFT JOIN nl USING (doc_id)
    LEFT JOIN ka USING (doc_id)
    """,
)
def curate_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 repeated-line removal with ordered reassembly — see module
    docstring.  One narrow hash-count shuffle, one broadcast LEFT join
    marking boilerplate, one doc-keyed reassembly shuffle.  The corpus
    tokenizes exactly TWICE (frequency leg + reassembly leg) — the
    deliberate trade: re-deriving the map-only segment frame beats
    checkpointing corpus-sized text to executor disk; a third tokenize
    for the per-doc totals was folded into the reassembly aggregate
    (count all, keep non-boiler), with only a column-pruned doc_id scan
    left for zero-token documents."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.expr(_SPARK_LINES).alias("lines"))
    seg = base.select(
        "doc_id",
        F.posexplode("lines").alias("pos", "line"),
    ).select(
        "doc_id",
        (F.col("pos") + 1).cast("long").alias("seg_idx"),
        "line",
        F.expr("md5(line)").alias("h"),
    )
    # frequency over 16-byte hashes only — the text stays put
    boiler = (
        seg.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= _MIN_FREQ)
        .select("h", F.lit(True).alias("is_boiler"))
    )
    flagged = seg.join(F.broadcast(boiler), "h", "left").select(
        "doc_id",
        "seg_idx",
        "line",
        F.coalesce("is_boiler", F.lit(False)).alias("is_boiler"),
    )
    keep_line = F.when(F.col("is_boiler"), F.lit(None)).otherwise(
        F.col("line")
    )
    ka = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(~F.col("is_boiler"), 1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("seg_idx", keep_line.alias("line"))
                    )
                ),
                lambda x: x["line"],
            ),
            " ",
        ).alias("clean_text"),
    )
    # zero-token documents never reach seg: a column-pruned universe
    # scan (doc_id only, no tokenize) restores their 0/0/'' rows
    z = F.lit(0).cast("long")
    return docs.select("doc_id").join(ka, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_lines", z).alias("n_lines"),
        F.coalesce("n_kept", z).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# Distributed shape (the suffix-array intent without the suffix array):
#
# 1. every document emits its 40-char gram fingerprints (md5), all
#      positions — O(chars) work, map-side;
# 2. CONTENT-DEFINED sampling keeps grams whose hash starts '0'
#      (1/16): because selection depends only on gram CONTENT, two
#      documents sharing a run select the SAME grams regardless of
#      alignment — the winnowing/CDC idea, which is what makes a
#      strided sample wrong here and this one right;
# 3. inverted-index bucket join on the fingerprint (the dedup
#      family's no-cross-product discipline), doc_a < doc_b, per-pair
#      shared-gram counts.
#
# A shared run of R chars contains R−39 grams, ~(R−39)/16 selected, so
# detection is content-deterministic (both engines compute the same
# md5s) and recall grows with run length — the knob is the sampling
# prefix, documented, not hidden.  At 100 TB: gram emission is map-side
# (corpus text never shuffles — only 32-hex fingerprints do), the join
# is hash-bucketed, output is overlap-bound.

@query(
    "dedup_exact_substring",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, GREATEST(length(text) - 39, 1)::INTEGER + 1),
               i -> md5(substr(text, i::INTEGER, 40)))) AS fp
      FROM documents
    ), sel AS (
      SELECT DISTINCT doc_id, fp FROM grams WHERE substr(fp, 1, 1) = '0'
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shared-substring pairs — see the notes above.  Everything
    stays JVM-side: gram generation is transform(sequence(...)) inside
    codegen, fingerprints are md5 (identical hex in both engines), the
    pair join is fingerprint-keyed."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, "
                "int(greatest(length(text) - 39, 1))), "
                "i -> md5(substr(text, i, 40)))"
            )
        ).alias("fp"),
    )
    sel = grams.where(F.substring("fp", 1, 1) == "0").distinct()
    a = sel.select(F.col("doc_id").alias("doc_id_a"), "fp")
    b = sel.select(F.col("doc_id").alias("doc_id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_grams"))
    )
