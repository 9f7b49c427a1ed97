"""The benchmark's workloads and the rule that picks a mix's queries.

A run of a workload, in one fresh process:

1. start the Spark session (``session.start_s``);
2. run the first pass cold — the cost a daily process pays every day
   (``cold_tick_s``);
3. run ``warmup`` more untimed passes, to get past the knee of the
   workload's measured warm-up curve (``curves/``);
4. time a fixed number of passes (``passes``), op by op, in a closed
   loop with one client: each op starts when the previous one ends.

Every pass reads a fresh input path, because the engine's session
memos are keyed on (applicationId, input path). Every op is checked
against the DuckDB oracle, untimed.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

CORPUS_MODULES = frozenset(
    {"dedup", "similarity", "stream", "clustering", "estimators", "spans"})
# The corpus mix is a pick from the 45 queries of CORPUS_MODULES, which
# take about a minute per warm pass: one query for each layer the mix
# should move. ngram_jaccard_pairs and stream_user_totals are ROADMAP's
# own examples of work hidden in a plan builder and of a Python worker.
CORPUS_PICKS = (
    "ngram_jaccard_pairs",  # builder that runs 14 eager jobs
    "stream_window_counts",  # watermarked streaming aggregation state
    "stream_user_totals",  # applyInPandasWithState: streaming state in Python
    "stream_image_decode",  # streaming mapInPandas: Arrow to Python workers
)
# the stages orchestrate.full_run_stages writes, in order, with the
# registered query each one materialises and the directory it writes
PIPELINE_STAGES = (
    ("sync", "change_log_format", "change_log"),
    ("update", "scd1_merge", "universe"),
    ("append", "append_cutoff", "daily_append"),
)


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    picks: tuple  # a mix's queries; empty for the pipeline
    warmup: int  # untimed passes after the cold first pass
    pass_s: float  # the slowest warm pass past the knee of the curve, in
    # seconds, as measured on a 4-core box
    why: str
    reason: str  # the evidence behind ``warmup``

    @property
    def is_pipeline(self) -> bool:
        return self.name == "pipeline_daily"

    def passes(self, seconds: float) -> int:
        """Timed passes for ``seconds`` of measurement. Fixed by the
        argument, not by how fast the passes go, so every run of a
        workload does the same timed work."""
        return max(1, math.floor(seconds / self.pass_s))


WORKLOADS = {w.name: w for w in (
    Workload(
        "pipeline_daily", 0.01, (), warmup=4, pass_s=5.5,
        why="the product path: daily sync/update/append ticks, each on a "
            "fresh input path with one new day of orders; the only workload "
            "that writes",
        reason=(
            "A pass is one orchestrate.scheduled_run tick. In one 30-tick "
            "session (curves/pipeline_daily.json) tick 0 (cold) took 19.0 s "
            "and tick 1 7.2 s; ticks 1-5 fell from 7.2 to 5.1 s, and ticks "
            "5-29 took 4.2-5.5 s with no trend, so the knee is tick 5: 4 "
            "warm-up ticks, then the timed ticks. An earlier session on "
            "another day was flat at 4.2-4.9 s over ticks 2-9, then stepped "
            "about 25% down to 3.3-4.2 s from tick 10."),
    ),
    Workload(
        "corpus_mix", 0.01, CORPUS_PICKS, warmup=3, pass_s=3.84,
        why="corpus queries fetched as Arrow: an eager plan builder, "
            "streaming state and Python workers",
        reason=(
            "A pass is one run of every pick. In one 14-pass session "
            "(curves/corpus_mix.json) pass 0 (cold) took 14.0 s; passes 1-3 "
            "fell from 5.2 to 4.3 s, and passes 4-13 took 3.4-3.8 s with no "
            "trend, so the knee is pass 4: 3 warm-up passes, then the timed "
            "passes."),
    ),
)}


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


def mix_queries(queries: dict, oracle_sql: dict, picks: tuple) -> list[str]:
    """``picks`` in registration order. Each must be a registered query
    of a corpus module, with an oracle."""
    bad = [p for p in picks if p not in queries or p not in oracle_sql
           or module_of(queries[p]) not in CORPUS_MODULES]
    if bad:
        raise ValueError(f"not corpus queries with an oracle: {bad}")
    return [name for name in queries if name in picks]
