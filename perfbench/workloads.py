"""Workload definitions and seeded input generation.

Pure Python: nothing here imports Spark, so the generator and the query
orders can be tested without a session.

Query workloads run a fixed list of registered queries in an order
shuffled per pass from ``--seed``. The ``ingest`` workload lands
generated micro-batches whose dedup outcome is fixed by construction:

* every fresh document uses tokens no other document uses, so two fresh
  documents share no word shingle;
* a planted near-dup copies one earlier fresh document and replaces one
  or two tokens with new ones; on 40-64 token documents that keeps the
  5-shingle Jaccard at or above 26/46 > 0.5;
* an exact re-delivery repeats a row (same id, same text) in its batch.

So the survivors are exactly the fresh documents, and the dropped share
of offered rows is exactly the planted share.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

#: Query workloads: registry names, one fixed list each. See README.md
#: for why each query is in (and why the lists are not whole modules).
QUERY_WORKLOADS: dict[str, tuple[str, ...]] = {
    "llm": (
        "q53_neardup_components",
        "q114_sq8_ann_topk",
        "q120_learned_quality_lr",
        "q72_domain_mixture",
        "q60_pipe_wordcount",
    ),
}

#: Canonical tables each query workload reads; the traced run times one
#: ``sources.read_table`` call per table. ``ingest`` reads none: its
#: stream source declares its schema.
TABLES_READ: dict[str, tuple[str, ...]] = {
    "llm": ("documents", "embeddings"),
    "ingest": (),
}

#: Operator families: a query belongs to every family whose registry tag
#: (or, for ``corpus`` and ``pipe``, module) marks it.
_FAMILY_TAGS = {
    "dedup": {"L2", "dedup"},
    "similarity": {"L3"},
    "text": {"L4", "L6"},
}
_FAMILY_MODULES = {"corpus": "corpus", "pipe": "reference_ops"}


def families(tags: tuple[str, ...], module: str) -> list[str]:
    """Operator families of one registered query."""
    out = [f for f, want in _FAMILY_TAGS.items() if want & set(tags)]
    return out + [f for f, m in _FAMILY_MODULES.items() if m == module]


#: End-to-end metrics of every run: name -> unit.
END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}

#: Per-layer metrics of every traced run: name -> (unit, better). A layer
#: a workload bypasses reports 0.
PER_LAYER = {
    "engine.build_session_s": ("s", "lower"),
    "engine.jvm_gc_s": ("s", "lower"),
    "sources.read_table_s": ("s", "lower"),
    "sources.read_table_jobs": ("count", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "queries.build_share": ("ratio", "lower"),
    "spark.plan.s": ("s", "lower"),
    "spark.plan.nodes": ("count", "lower"),
    "spark.plan.codegen_stages": ("count", "higher"),
    "spark.run.s": ("s", "lower"),
    "spark.run.jobs": ("count", "lower"),
    "spark.run.stages": ("count", "lower"),
    "spark.run.tasks": ("count", "lower"),
    "spark.run.core_idle_frac": ("ratio", "lower"),
    "spark.run.executor_run_s": ("s", "lower"),
    "spark.run.executor_cpu_s": ("s", "lower"),
    "spark.run.shuffle_read_bytes": ("bytes", "lower"),
    "spark.run.shuffle_write_bytes": ("bytes", "lower"),
    "spark.run.spill_bytes": ("bytes", "lower"),
    "operators.dedup.s": ("s", "lower"),
    "operators.similarity.s": ("s", "lower"),
    "operators.text.s": ("s", "lower"),
    "operators.corpus.s": ("s", "lower"),
    "operators.pipe.s": ("s", "lower"),
    "streaming.neardup_ingest_s": ("s", "lower"),
    "streaming.jobs_per_batch": ("count", "lower"),
    "streaming.first_batch_s": ("s", "lower"),
    "streaming.compact_batch_output_s": ("s", "lower"),
    "streaming.compact_bytes_rewritten": ("bytes", "lower"),
    "streaming.files_before_compact": ("count", "lower"),
    "streaming.files_after_compact": ("count", "lower"),
    "streaming.dup_drop_frac": ("ratio", "higher"),
    "streaming.docs_per_s": ("docs/s", "higher"),
    "streaming.stored_bytes_per_doc_byte": ("ratio", "lower"),
    "trace.overhead_s": ("s", "lower"),
}


def complete_layers(measured: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric, 0 for a layer the run did not exercise."""
    unknown = set(measured) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {name: float(measured.get(name, 0.0)) for name in PER_LAYER}

#: Workloads the benchmark knows, in the order BENCHMARK.json lists them.
WORKLOADS = ("llm", "ingest")

#: Fixed warm-up and canary query (the flagship TPC-H Q1 shape).
WARMUP_QUERY = "q01_pricing_summary"

#: Near-dup threshold and word-shingle size the ingest drains use
#: (``streaming.neardup_ingest`` defaults).
THRESHOLD = 0.5
SHINGLE = 5

#: Rows per landed batch, and the shares of them that are planted
#: near-dups and exact re-deliveries (the rest are fresh documents).
BATCH_ROWS = 200
NEAR_DUP_SHARE = 0.2
REDELIVERY_SHARE = 0.1

#: Token stems; several are non-ASCII so the tokenizer and the parquet
#: string path see multi-byte UTF-8.
_STEMS = ("data", "token", "modèle", "straße", "数据", "слово", "λόγος", "día")


def query_order(names: tuple[str, ...], seed: int, pass_no: int) -> list[str]:
    """The query order of one pass: a shuffle seeded by (seed, pass)."""
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


@dataclass
class IngestPlan:
    """The outcome the batches generated so far must produce."""

    #: Ids of the fresh documents landed so far: the expected survivors.
    survivors: set[int] = field(default_factory=set)
    #: Rows offered per batch, re-deliveries included.
    batch_sizes: list[int] = field(default_factory=list)
    planted_rows: int = 0


class IngestGenerator:
    """Generates batches one at a time, so a run draws only what it lands.

    ``batch(i)`` depends only on the seed and on the batches before it,
    so the same seed gives the same batches in the same order.
    """

    def __init__(self, seed: int):
        self._rng = random.Random(f"ingest:{seed}")
        self._next_token = 0
        self._next_id = 1
        self._fresh: list[tuple[int, list[str]]] = []
        self.n_near = round(BATCH_ROWS * NEAR_DUP_SHARE)
        self.n_redeliver = round(BATCH_ROWS * REDELIVERY_SHARE)
        self.n_fresh = BATCH_ROWS - self.n_near - self.n_redeliver
        self.plan = IngestPlan()
        #: (near-dup id, source id) for every planted near-dup.
        self.planted_pairs: list[tuple[int, int]] = []

    def _token(self) -> str:
        self._next_token += 1
        return f"{self._rng.choice(_STEMS)}{self._next_token}"

    def _doc_id(self) -> int:
        self._next_id += 1
        return self._next_id

    def next_batch(self) -> list[tuple[int, str]]:
        rng = self._rng
        rows: list[tuple[int, str]] = []
        for _ in range(self.n_fresh):
            toks = [self._token() for _ in range(rng.randint(40, 64))]
            doc_id = self._doc_id()
            self._fresh.append((doc_id, toks))
            self.plan.survivors.add(doc_id)
            rows.append((doc_id, " ".join(toks)))
        for _ in range(self.n_near):
            src_id, src = rng.choice(self._fresh)
            toks = list(src)
            for pos in rng.sample(range(len(toks)), rng.randint(1, 2)):
                toks[pos] = self._token()
            doc_id = self._doc_id()
            self.planted_pairs.append((doc_id, src_id))
            rows.append((doc_id, " ".join(toks)))
        rows.extend(rng.sample(rows, self.n_redeliver))
        rng.shuffle(rows)
        self.plan.batch_sizes.append(len(rows))
        self.plan.planted_rows += self.n_near + self.n_redeliver
        return rows

    def survivor_text_bytes(self) -> int:
        """UTF-8 bytes of the fresh documents generated so far."""
        return sum(len(" ".join(t).encode()) for _, t in self._fresh)
