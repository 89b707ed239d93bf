"""The benchmark's workloads: what each one runs, on which inputs.

Every workload is closed-loop with one client. A *pass* is one full run
of the workload's request set; a request is one query key (or, on
``indicators_weekly``, the streaming ingest of the landing files). Each
key request is timed in three phases through the package's public entry
points:

- build: ``plans.QUERIES[key](spark, data_dir)``. Plan construction, plus
  any eager Spark work the plan function does (dedup loops, lineage cuts,
  streaming drains).
- analyze: ``df._jdf.queryExecution().executedPlan()``. Catalyst
  optimisation and physical planning.
- exec: a ``noop`` write: the full result is computed and dropped.

Stage sharing *within* a pass is the production design and stays;
every cache is cleared before each pass, so nothing is shared across
passes.

Every run starts a fresh JVM, so its first pass runs cold; on 4 cores
that pass costs three to four times a warm one. The key lists are
therefore cheap keys that still cover each layer.
"""

from __future__ import annotations

from dataclasses import dataclass

from gen import Scale

# The paper's enrich layer: near-duplicate windows, connected-component
# exemplars (dedup and lineage operators), SOC title matching.
ENRICH = (
    "near_dup_windowed",
    "dedup_components",
    "soc_substring_match",
)

# The paper's aggregate/dqa layer: weekly stock, weekly salary quartiles,
# and the streaming form of the stock indicator (a stateful availableNow
# drain of the landing files).
INDICATORS = (
    "weekly_stock",
    "weekly_salary_spread",
    "streaming_stock",
)

@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    scale: Scale
    # Whether the pass starts by landing the events through the
    # streaming file sink (the only write path the benchmark covers).
    ingest: bool = False

    @property
    def requests(self) -> list[str]:
        """The requests of one pass, in order."""
        return (["ingest"] if self.ingest else []) + list(self.keys)


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="indicators_weekly",
            keys=INDICATORS,
            scale=Scale(olap=3, stream_files=8),
            ingest=True,
        ),
        Workload(
            name="dedup_enrich",
            keys=ENRICH,
            scale=Scale(docs=2),
        ),
    )
}
