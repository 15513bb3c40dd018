"""The benchmark workloads.

Each workload has a program set-up step (``build``, repeated and
timed for ``setup_s``), a warm-up, and ``step(i)``, which runs the i-th
operation of its closed-loop mix through a ``harness.Recorder``.  All
choices (corpus, question sample, re-ingest slices, face order) come
from the workload's seeded generator; the package receives only the
generated inputs.
"""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np

import datagen
from harness import Op, Recorder, median

K = 10          # top-k of every search
NLIST = 8       # IVF cells (the package default)
NPROBE = 4      # probed cells (the package default)

# Smallest per-question IVF recall@10 accepted by the rag_serve check.
# Mean measured recall on this corpus is 0.8-0.9; a broken probe or
# cell layout reads near 0.
RECALL_FLOOR = 0.3


class Workload:
    name = ""
    mix: dict[str, int] = {}  # operation kind -> share of the loop
    sizes: dict[str, dict[str, float]] = {}
    # the timed loop stops only after a multiple of this many operations
    round_ops = 1
    # set-up builds per run; setup_s uses their median
    setup_repeats = 3

    def __init__(self, spark, rec: Recorder, work_dir: str, seed: int,
                 size: str, break_check: bool) -> None:
        self.spark = spark
        self.rec = rec
        self.work_dir = work_dir
        self.seed = seed
        self.size = dict(self.sizes[size])
        self.rng = np.random.default_rng([seed, 1])
        # smoke test hook: one check expects a wrong value
        self.off = 1 if break_check else 0

    def describe(self) -> dict:
        return {"mix": self.mix, **self.size}

    def prepare(self) -> None:
        """Generate inputs (benchmark work, not timed)."""

    def build(self, rep: int) -> None:
        """The program's set-up step for this workload."""

    def after_build(self) -> None:
        """Benchmark bookkeeping after the builds (not timed)."""

    def warm_up(self, rec: Recorder) -> None:
        raise NotImplementedError

    def step(self, i: int) -> None:
        raise NotImplementedError

    def oracle_check(self) -> dict[str, list[str]]:
        """Untimed end-of-run result checks; face name -> problems."""
        return {}

    def layer_metrics(self) -> dict[str, float]:
        return {}


# --------------------------------------------------------------- rag_serve

class RagServe(Workload):
    """Ingest a corpus into an IVF store once, then answer questions
    against it, with an occasional re-ingest of a slice of documents."""

    name = "rag_serve"
    mix = {"answer": 5, "ingest": 1}
    sizes = {
        "full": {"documents": 500, "slice_docs": 20},
        "smoke": {"documents": 120, "slice_docs": 5},
    }

    def prepare(self) -> None:
        docs = datagen.make_documents(self.rng, int(self.size["documents"]))
        self.mdx = datagen.mdx_corpus(docs).to_pandas()

    def _ingest(self, mdx_pdf):
        from pyspark.sql import functions as F

        from vector_ai_npm_spark.engine import EngineConfig
        from vector_ai_npm_spark.rag.pipeline import ingest_pipeline

        docs = self.spark.createDataFrame(mdx_pdf)
        chunks = ingest_pipeline(docs, EngineConfig(chunk_size=120, chunk_overlap=30))
        vec_id = F.col("doc_id") * 100_000 + F.col("chunk_id") * 100 + F.col("sub_pos")
        return chunks.withColumn("vec_id", vec_id)

    def build(self, rep: int) -> None:
        from vector_ai_npm_spark.retrieval.store import persist_ivf_store

        self.store_dir = os.path.join(self.work_dir, f"rag_store_{rep}")
        persist_ivf_store(self._ingest(self.mdx), self.store_dir, nlist=NLIST,
                          seed=self.seed)

    def after_build(self) -> None:
        from vector_ai_npm_spark.retrieval.store import read_ivf_cells

        for old in glob.glob(os.path.join(self.work_dir, "rag_store_*")):
            if old != self.store_dir:
                shutil.rmtree(old)
        rows = (read_ivf_cells(self.spark, self.store_dir)
                .select("vec_id", "doc_id", "embedding").collect())
        self.by_doc: dict[int, set] = {}
        for r in rows:
            self.by_doc.setdefault(r.doc_id, set()).add((r.vec_id, tuple(r.embedding)))
        emb = np.array([r.embedding for r in rows], dtype=np.float32)
        _, first, counts = np.unique(emb, axis=0, return_index=True, return_counts=True)
        unique_ids = sorted(rows[j].vec_id for j in first[counts == 1])
        self.questions = [int(v) for v in self.rng.permutation(unique_ids)]
        self.vectors = {r.vec_id: list(r.embedding) for r in rows}
        self.size["chunks"] = len(rows)

    def warm_up(self, rec: Recorder) -> None:
        # Without five warm-up questions the first timed questions run up
        # to 1.5x slower (JIT and codegen); the builds already warm the
        # ingest path.  The warm-up asks questions from the end of the
        # sample, the timed loop from its start.
        for qid in self.questions[-5:]:
            rec.run("answer", lambda op, qid=qid: self._answer(op, qid))

    def step(self, i: int) -> None:
        # ingest first in each group of six, so every window has one
        if i % 6 == 0:
            self.rec.run("ingest", self._reingest)
        else:
            q = self.questions[i % len(self.questions)]
            self.rec.run("answer", lambda op: self._answer(op, q))

    def _answer(self, op: Op, qid: int) -> None:
        from vector_ai_npm_spark.rag.pipeline import context_group_dedup, prompt_assemble
        from vector_ai_npm_spark.retrieval.search import similarity_search_topk
        from vector_ai_npm_spark.retrieval.store import (
            probe_cells_for, read_ivf_cells, search_ivf_store)

        q = self.vectors[qid]
        question = f"Which chunk is closest to vector {qid}?"
        with op.timed("retrieval.exact_topk_s"):
            df = similarity_search_topk(read_ivf_cells(self.spark, self.store_dir), q, k=K)
            exact = df.collect()
        op.catalyst(df)
        with op.timed("retrieval.probe_s", in_latency=False):
            probe_cells_for(self.spark, self.store_dir, q, NPROBE)
        with op.timed("retrieval.ivf_search_s"):
            df = search_ivf_store(self.spark, self.store_dir, q, k=K, nprobe=NPROBE)
            ivf = df.collect()
        op.catalyst(df)
        with op.timed("rag.dedup_assemble_s"):
            retrieved = self.spark.createDataFrame(
                [(r.metadata.context, r.content, j + 1) for j, r in enumerate(exact)],
                "context string, content string, rank long")
            df = prompt_assemble(context_group_dedup(retrieved), question)
            prompt = df.collect()
        op.catalyst(df)
        recall = len({r.vec_id for r in exact} & {r.vec_id for r in ivf}) / K
        op.extra["recall"] = recall
        op.check(len(exact) == K and exact[0].vec_id == qid,
                 f"exact top-{K} rank 1 is not the sampled chunk {qid}")
        op.check(recall >= RECALL_FLOOR, f"IVF recall@{K} {recall} < {RECALL_FLOOR}")
        op.check(len(prompt) == 1 + self.off, f"prompt has {len(prompt)} rows, not 1")
        op.check(bool(prompt) and question in prompt[0].prompt
                 and exact[0].content in prompt[0].prompt,
                 "prompt lacks the question or the rank-1 chunk")

    def _reingest(self, op: Op) -> None:
        n = int(self.size["slice_docs"])
        start = int(self.rng.integers(0, len(self.mdx) - n + 1))
        part = self.mdx.iloc[start:start + n]
        with op.timed("rag.ingest_s"):
            df = self._ingest(part).select("doc_id", "vec_id", "embedding")
            rows = df.collect()
        op.catalyst(df)
        got: dict[int, set] = {}
        for r in rows:
            got.setdefault(r.doc_id, set()).add((r.vec_id, tuple(r.embedding)))
        want = {d: self.by_doc[d] for d in part["doc_id"] if d in self.by_doc}
        op.check(got == want, "re-ingested chunks differ from the stored chunks")

    def layer_metrics(self) -> dict[str, float]:
        answers = self.rec.by_kind("answer")
        ingest_p50_s = median(op.latency_s for op in self.rec.by_kind("ingest"))
        # op_p50_s is the answer median (five answers to one ingest)
        return {
            "retrieval.recall_at_k": float(np.mean([op.extra["recall"] for op in answers])),
            "op.ingest_docs_per_s": self.size["slice_docs"] / ingest_p50_s,
        }


# --------------------------------------------------------------- batch_mix

def checksum(df):
    """One-row (rows, hash) action over every output value of ``df``.

    The hash sum depends on each value of each row, so Catalyst can
    prune no column's computation (a ``count`` of a non-nullable column
    is rewritten to ``count(1)`` and the column dropped).  Doubles are
    hashed at float precision: a last-bit difference from the order of a
    floating-point sum does not change the checksum."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType

    cols = [df[f.name].cast("float") if isinstance(f.dataType, DoubleType) else df[f.name]
            for f in df.schema.fields]
    return df.select(F.count(F.lit(1)).alias("n"),
                     F.sum(F.hash(*cols).cast("long")).alias("h"))


class BatchMix(Workload):
    """Registry faces run back to back in a seed-permuted order, each
    forced by a checksum over every output value."""

    name = "batch_mix"
    faces = (
        "dedup_ngram_jaccard", "text_bm25", "tpch_q9", "join_asof",
        "graph_pagerank",
    )
    sizes = {"full": {"scale": 0.01}, "smoke": {"scale": 0.001}}
    setup_repeats = 1  # nothing to build; the cold first pass is the set-up

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.order = [self.faces[j] for j in self.rng.permutation(len(self.faces))]
        self.mix = {f: 1 for f in self.order}
        self.round_ops = len(self.order)

    def describe(self) -> dict:
        rows_out = {n: e[0] for n, e in getattr(self, "expected", {}).items()}
        return {"order": self.order, "rows_out": rows_out, **self.size}

    def prepare(self) -> None:
        self.sf_dir = os.path.join(self.work_dir, "sf")
        self.size["rows"] = datagen.generate(self.sf_dir, self.seed, self.size["scale"])

    def warm_up(self, rec: Recorder) -> None:
        """Cold first pass: runs and collects each face once (the rows
        the DuckDB oracle check compares), then runs its checksum, which
        warms the plan the timed loop runs and is the value every timed
        run must reproduce."""
        from vector_ai_npm_spark import registry

        self.queries = registry.all_queries()
        self.collected: dict[str, tuple] = {}
        self.expected: dict[str, tuple] = {}
        for name in self.order:
            def body(op: Op, name=name) -> None:
                with op.timed("registry.run_s"):
                    df = self.queries[name](self.spark, self.sf_dir)
                    rows = [tuple(r) for r in df.collect()]
                    self.expected[name] = tuple(checksum(df).collect()[0])
                self.collected[name] = (list(df.columns), rows)
                op.check(self.expected[name][0] == len(rows),
                         f"{name} checksum counts {self.expected[name][0]} rows, "
                         f"collect returned {len(rows)}")
            rec.run(name, body)

    def oracle_check(self) -> dict[str, list[str]]:
        """Compare each warm-up result with the face's DuckDB oracle
        (the tests' exact-match compare, without re-running Spark)."""
        import oracle_harness as oh

        from vector_ai_npm_spark import registry

        oracles = registry.all_oracles()
        problems = {}
        con = oh.duckdb_connect(self.sf_dir)
        try:
            for name, (s_cols, s_rows) in self.collected.items():
                if name not in oracles:
                    continue
                o_cols, o_rows = oh.run_oracle(con, oracles[name])
                p = oh.driver_canon_problems(s_cols, s_rows)
                if not p and sorted(s_cols) != sorted(o_cols):
                    p = [f"columns differ: {sorted(s_cols)} vs {sorted(o_cols)}"]
                if not p and oh._normalize(s_cols, s_rows) != oh._normalize(o_cols, o_rows):
                    p = [f"values differ from the oracle ({len(s_rows)} vs {len(o_rows)} rows)"]
                if p:
                    problems[name] = p
        finally:
            con.close()
        return problems

    def step(self, i: int) -> None:
        name = self.order[i % len(self.order)]
        fn = self.queries[name]

        def body(op: Op) -> None:
            with op.timed("registry.build_s"):
                df = fn(self.spark, self.sf_dir)
            forced = checksum(df)
            with op.timed("face.exec_s"):
                got = tuple(forced.collect()[0])
            op.catalyst(forced)
            n, h = self.expected[name]
            op.check(got == (n + self.off, h),
                     f"{name} checksum (rows, hash) {got}, expected {(n, h)}")
        self.rec.run(name, body)

    def layer_metrics(self) -> dict[str, float]:
        out = {}
        for name in self.faces:
            ops = self.rec.by_kind(name)
            out[f"face.{name}.build_s"] = median(op.layers["registry.build_s"] for op in ops)
            out[f"face.{name}.exec_s"] = median(op.layers["face.exec_s"] for op in ops)
        # one pass: every face built once
        out["registry.build_s"] = sum(out[f"face.{name}.build_s"] for name in self.faces)
        return out


WORKLOADS = {w.name: w for w in (RagServe, BatchMix)}
