"""Types and names the workloads share with the entry point."""

from __future__ import annotations

from dataclasses import dataclass, field

from .tracing import Tracer

#: llm_curation's query set: catalog keys with a DuckDB oracle
LLM_QUERIES = ("dedup_minhash_lsh", "dedup_simhash", "embedding_cosine_pairs",
               "ann_numpy_topk", "text_bpe_encode", "multimodal_phash_dedup")


@dataclass
class Config:
    seed: int
    seconds: int
    tracer: Tracer
    work: str  # scratch directory of this run, inside the checkout
    upsert_sleep_s: float = 0.0  # planted slowdown (tests only)


@dataclass
class Result:
    """What a workload measured. ``end_to_end`` carries every end-to-end
    metric but ``setup_s`` and ``peak_rss_mb``, which the entry point adds;
    ``per_layer`` is filled only by a traced run."""

    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)  # (name, ok, detail)
    errors: list = field(default_factory=list)  # failed operations
    setup_end: float = 0.0  # epoch time of the first timed operation
    window_s: float = 0.0  # length of the timed window
    trace_cost_s: float = 0.0  # recording time spent inside the window
    end_to_end: dict = field(default_factory=dict)
    per_layer: dict = field(default_factory=dict)
    context: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """A correctness check counts as one operation, failed if not ok."""
        self.checks.append((name, bool(ok), detail))
        self.attempted += 1
        self.failed += 0 if ok else 1


def noop(df) -> None:
    """Materialise every column of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()
