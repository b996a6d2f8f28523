"""Pipeline runner (SURVEY §7): an ordered, declarative stage spec over pure
``DataFrame → DataFrame`` operators, with an S5 JSONL event log and versioned
sink integration.

Reference behaviour being re-expressed:
- the reference's run loop is read → LLM-chosen pandas step → write-version →
  report (``/root/reference/graph_proj/src/agent/tool_call_agent.py:204-213``
  graph wiring); our stages are the declarative equivalent of its tool calls;
- S5 audit log: ``log_final_messages`` writes the full run transcript to
  ``final_messages.log`` (``tool_call_agent.py:188-202``); our JSONL event log
  records stage begin/end, parameters, row deltas, and timing — one JSON
  object per line, machine-parseable.

Scale notes: the runner adds NO extra Spark jobs unless ``count_rows=True``
(row counts are real actions — at 100 TB each count is a full scan unless the
stage output is cached, so the default is off and the golden-replay tests
opt in at fixture scale). Each count is a one-row fit through
``fits.collect_fit``: a repeat run on unchanged sources, or a stage whose
count plan equals an earlier one (a projection-only stage), is served from
the fit memo. Stage composition is lazy: the whole pipeline
collapses into ONE logical plan that Catalyst optimizes end-to-end —
filters written in stage 5 still push down into the stage-1 scan. So a
``stage_end`` event's ``seconds`` times the stage's COMPOSITION, including
any eager fit the stage runs (sigma bounds, percentile caps), not its
execution and not its row count.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agent_data_wrangler_spark.operators import fits


def default_registry() -> dict:
    """All public DataFrame→DataFrame operators, addressable by name from a
    declarative spec. Built lazily (import cost) and by introspection, so new
    operators are spec-addressable the moment they exist."""
    import inspect

    from agent_data_wrangler_spark.operators import (
        aggregates,
        dedup,
        filters,
        impute,
        multimodal,
        pivot,
        profile,
        setops,
        similarity,
        splits,
        transform,
        windows,
    )

    registry: dict = {}
    for mod in (filters, impute, transform, aggregates, windows, pivot, setops,
                profile, dedup, similarity, multimodal, splits):
        for fname, fn in vars(mod).items():
            if fname.startswith("_") or not inspect.isfunction(fn):
                continue
            sig = inspect.signature(fn)
            params = list(sig.parameters.values())
            if params and params[0].name in ("df", "left"):
                registry[fname] = fn
    return registry


@dataclass
class Stage:
    """One pipeline step: a named, parameterized DataFrame transform.

    ``fn`` takes the incoming DataFrame plus ``params`` as keyword arguments
    and returns the transformed DataFrame. Keeping params declarative (not
    closed over) is what makes the event log a faithful recipe: the log line
    carries everything needed to replay the stage.

    ``cache=True`` persists the stage output (§4 memoization): use it when a
    downstream fit-then-transform pair would otherwise recompute the full
    lineage per fitted statistic (the round-1 t5 lesson: each redundant pass
    is a full-table read at 100 TB). It is the one cache outside
    ``operators/held.py``: the cached frame outlives ``apply`` and the
    pipeline's caller owns its release, so no ``held`` block can scope it.
    """

    name: str
    fn: Callable[..., DataFrame]
    params: dict = field(default_factory=dict)
    cache: bool = False

    def apply(self, df: DataFrame) -> DataFrame:
        out = self.fn(df, **self.params)
        return out.cache() if self.cache else out


@dataclass
class PipelineResult:
    df: DataFrame
    events: list[dict]

    @property
    def row_counts(self) -> list[tuple[str, int | None, int | None]]:
        """(stage, rows_in, rows_out) per stage-end event."""
        return [
            (e["stage"], e.get("rows_in"), e.get("rows_out"))
            for e in self.events
            if e["event"] == "stage_end"
        ]


class Pipeline:
    """Ordered stages + optional JSONL event log (S5).

    >>> pipe = Pipeline("hr_clean", [Stage("drop_null_promo", drop_null_rows,
    ...                  {"subset": ["last_promo_date"]})], log_path="run.jsonl")
    >>> result = pipe.run(df)
    """

    def __init__(
        self,
        name: str,
        stages: list[Stage],
        *,
        log_path: str | None = None,
        count_rows: bool = False,
    ) -> None:
        self.name = name
        self.stages = list(stages)
        self.log_path = log_path
        self.count_rows = count_rows

    @classmethod
    def from_spec(
        cls,
        name: str,
        spec: list[dict],
        registry: dict[str, Callable[..., DataFrame]] | None = None,
        **kwargs,
    ) -> "Pipeline":
        if registry is None:
            registry = default_registry()
        return cls._from_spec_impl(name, spec, registry, **kwargs)

    @classmethod
    def _from_spec_impl(
        cls,
        name: str,
        spec: list[dict],
        registry: dict[str, Callable[..., DataFrame]],
        **kwargs,
    ) -> "Pipeline":
        """Build a pipeline from a declarative spec (decoded JSON/YAML):

            [{"stage": "drop_null_promo", "op": "drop_null_rows",
              "params": {"subset": ["last_promo_date"]}}, ...]

        ``registry`` maps op names to operator callables — the engine's
        answer to the reference's NL-driven step selection: the spec is data,
        so it can be generated, logged (S5 lines carry exactly these params),
        diffed, and replayed. Unknown ops fail fast with the available names.
        """
        stages = []
        for entry in spec:
            op = entry["op"]
            if op not in registry:
                raise KeyError(f"unknown op {op!r}; available: {sorted(registry)}")
            stages.append(
                Stage(
                    name=entry.get("stage", op),
                    fn=registry[op],
                    params=entry.get("params", {}),
                    cache=bool(entry.get("cache", False)),
                )
            )
        return cls(name, stages, **kwargs)

    def run(self, df: DataFrame) -> PipelineResult:
        events: list[dict] = []

        def emit(event: dict) -> None:
            events.append(event)
            if self.log_path:
                with open(self.log_path, "a", encoding="utf-8") as fh:
                    fh.write(json.dumps(event, default=str) + "\n")

        def count(frame: DataFrame) -> int | None:
            if not self.count_rows:
                return None
            return fits.collect_fit(frame.agg(F.count(F.lit(1))))[0][0]

        emit({"event": "pipeline_start", "pipeline": self.name, "n_stages": len(self.stages)})
        current = df
        rows = count(current)
        for stage in self.stages:
            emit({"event": "stage_start", "stage": stage.name, "params": stage.params})
            t0 = time.perf_counter()
            current = stage.apply(current)
            seconds = round(time.perf_counter() - t0, 3)
            out_rows = count(current)
            emit(
                {
                    "event": "stage_end",
                    "stage": stage.name,
                    "rows_in": rows,
                    "rows_out": out_rows,
                    "seconds": seconds,
                }
            )
            rows = out_rows
        emit({"event": "pipeline_end", "pipeline": self.name, "rows_out": rows})
        return PipelineResult(df=current, events=events)
