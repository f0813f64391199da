"""Pipeline orchestrator (reference C10: step_functions/Tests.json —
the Glue→lineage→gate→Choice→Glue DAG with retry/backoff and a
catch-all failure path), rebuilt as a plain-Python driver.

Stages couple ONLY through data-at-rest (the context dict carries paths
and small decision strings, never DataFrames that must stay alive), so
any stage is restartable in isolation — the property the reference gets
from S3-file coupling (SURVEY §3.1).
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any


class PipelineHalt(Exception):
    """Raised by a stage (typically a governance gate) to stop the
    pipeline without it being an error — the Choice-state FAIL branch."""


@dataclass
class StageRun:
    stage: str
    status: str  # SUCCEEDED | FAILED | HALTED | SKIPPED
    attempts: int
    duration_s: float
    error: str | None = None
    # Observed row counts, filled only by stages that return a StageOutput
    # carrying them (validate: raw rows in, validated rows out, so the
    # quarantine rate is 1 - rows_out / rows_in).
    rows_in: int | None = None
    rows_out: int | None = None


@dataclass(frozen=True)
class StageOutput:
    """What a stage may return instead of a bare result: ``value`` goes to
    ``ctx[stage]`` as a bare result would, the row counts to its StageRun."""

    value: Any
    rows_in: int | None = None
    rows_out: int | None = None


@dataclass
class Stage:
    name: str
    fn: Callable[[dict[str, Any]], Any]  # ctx -> result (stored in ctx[name])
    retries: int = 3  # total attempts (reference: 3 attempts)
    backoff_s: float = 0.0  # base sleep; doubles per retry (reference: ×2)


@dataclass
class Pipeline:
    name: str
    stages: list[Stage] = field(default_factory=list)

    def add(self, name: str, fn: Callable[[dict[str, Any]], Any], **kw) -> "Pipeline":
        self.stages.append(Stage(name=name, fn=fn, **kw))
        return self

    def run(self, ctx: dict[str, Any] | None = None) -> tuple[dict[str, Any], list[StageRun]]:
        """Execute stages in order. A PipelineHalt marks the stage HALTED
        and all later stages SKIPPED (the notify-and-stop branch); any
        other exception exhausts retries then marks FAILED + skips the
        rest (the catch-all Pipeline Failed path)."""
        ctx = ctx if ctx is not None else {}
        runs: list[StageRun] = []
        halted = False
        for stage in self.stages:
            if halted:
                runs.append(StageRun(stage.name, "SKIPPED", 0, 0.0))
                continue
            t0 = time.perf_counter()
            attempt, err = 0, None
            while attempt < max(1, stage.retries):
                attempt += 1
                try:
                    out = stage.fn(ctx)
                    rows = (None, None)
                    if isinstance(out, StageOutput):
                        out, rows = out.value, (out.rows_in, out.rows_out)
                    ctx[stage.name] = out
                    runs.append(
                        StageRun(stage.name, "SUCCEEDED", attempt,
                                 time.perf_counter() - t0, None, *rows)
                    )
                    err = None
                    break
                except PipelineHalt as h:
                    runs.append(
                        StageRun(stage.name, "HALTED", attempt, time.perf_counter() - t0, str(h))
                    )
                    halted = True
                    err = None
                    break
                except Exception as e:  # noqa: BLE001 - retry envelope
                    err = e
                    if attempt < max(1, stage.retries) and stage.backoff_s > 0:
                        time.sleep(stage.backoff_s * (2 ** (attempt - 1)))
            if err is not None:
                runs.append(
                    StageRun(stage.name, "FAILED", attempt, time.perf_counter() - t0, repr(err))
                )
                halted = True
        return ctx, runs
