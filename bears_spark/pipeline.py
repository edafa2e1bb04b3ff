"""DataPipeline: config-driven fit/transform feature pipeline.

Reference parity: src/bears/processor/_DataPipeline.py —
- config: ``pipeline: [ {input, output, transformer, params} ]`` (:146-161,
  from_config :603-641)
- resolution (:643-701): per step, filter the *current* schema by the step's
  input patterns (regex or MLType name), fan out 1:1 processors per matched
  column / one N:1 processor per column tuple, substitute ``{col_name}`` into
  the output pattern, propagate the schema.
- execution (:761-924): FIT_TRANSFORM runs fit actions then assigns columns;
  the Spark compilation collapses all 1:1 transform steps into one projection
  (single whole-stage-codegen pass); fit steps are tiny aggregations whose
  results are broadcast as literal expressions.
- MissingColumnBehavior ERROR/SKIP/EXECUTE (:500-511).

Engine-independent logic (pattern matching, schema propagation) is ported
directly; execution is Catalyst's.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bears_spark.processor.base import (
    DataProcessor,
    MissingColumnBehavior,
    Nto1ColumnProcessor,
    SingleColumnProcessor,
    get_processor,
)
from bears_spark.types import MLType, MLTypeSchema, spark_to_mltype


@dataclass
class PipelineStepConfig:
    input: str | list[str]  # regex pattern(s) or MLType name(s)
    transformer: str
    output: str = "{col_name}"
    params: dict = field(default_factory=dict)


@dataclass
class StepPerf:
    step: str
    transformer: str
    n_processors: int
    fit_ms: float = 0.0


_MLTYPE_NAMES = {t.name for t in MLType}


def filter_schema_by_input_patterns(schema: MLTypeSchema, patterns: str | list[str]) -> list[str]:
    """Column selection by regex or MLType name, case-insensitive, with
    numeric-aware ordering (PipelineUtil.filter_schema_by_input_patterns,
    _DataPipeline.py:1071-1128)."""
    pats = [patterns] if isinstance(patterns, str) else list(patterns)
    matched: list[str] = []
    for pat in pats:
        if pat.strip().upper() in _MLTYPE_NAMES:
            want = MLType.from_str(pat)
            matched.extend(c for c, t in schema.items() if t == want)
        else:
            rx = re.compile(f"^{pat}$", re.IGNORECASE)
            matched.extend(c for c in schema if rx.match(c))
    # numeric-aware ordering: name123 sorts by (prefix, 123) (:1089-1109)
    def _key(name: str):
        m = re.match(r"^(.*?)(\d+)$", name)
        return (m.group(1), int(m.group(2))) if m else (name, -1)

    seen: set[str] = set()
    out = []
    for c in sorted(matched, key=_key):
        if c not in seen:
            seen.add(c)
            out.append(c)
    return out


class DataPipeline:
    """fit_transform / transform over a Spark DataFrame, schema-propagated."""

    def __init__(
        self,
        steps: list[PipelineStepConfig],
        missing_column_behavior: MissingColumnBehavior | str = MissingColumnBehavior.ERROR,
    ):
        self.steps = steps
        self.missing_column_behavior = MissingColumnBehavior(missing_column_behavior)
        self._resolved: list[tuple[PipelineStepConfig, list[tuple[DataProcessor, list[str], str]]]] | None = None
        self.perf: list[StepPerf] = []

    # -- config ----------------------------------------------------------
    @classmethod
    def from_config(cls, config: dict | str, **kw) -> "DataPipeline":
        """dict or YAML/JSON path: {pipeline: [{input, output, transformer,
        params}], missing_column_behavior} (from_config :603-641)."""
        if isinstance(config, str):
            import json

            if config.endswith((".yaml", ".yml")):
                import yaml

                with open(config) as f:
                    config = yaml.safe_load(f)
            else:
                with open(config) as f:
                    config = json.load(f)
        steps = [
            PipelineStepConfig(
                input=s["input"],
                transformer=s["transformer"],
                output=s.get("output", "{col_name}"),
                params=s.get("params", {}),
            )
            for s in config["pipeline"]
        ]
        mcb = config.get("missing_column_behavior", kw.pop("missing_column_behavior", "error"))
        return cls(steps, missing_column_behavior=mcb, **kw)

    # -- resolution --------------------------------------------------------
    @staticmethod
    def _schema_of(df: DataFrame) -> MLTypeSchema:
        from bears_spark.types import struct_to_mltype_schema

        return struct_to_mltype_schema(df.schema)

    def _resolve(self, schema: MLTypeSchema) -> list[tuple[PipelineStepConfig, list[tuple[DataProcessor, list[str], str]]]]:
        """Chain of MLTypeSchemas + processor fan-out (:643-701): 1:1 -> one
        processor per matched column; N:1 -> one processor for the tuple."""
        resolved = []
        cur = dict(schema)
        for step in self.steps:
            cols = filter_schema_by_input_patterns(cur, step.input)
            if not cols:
                if self.missing_column_behavior == MissingColumnBehavior.ERROR:
                    raise ValueError(f"step {step.transformer}: no columns match {step.input!r} in {sorted(cur)}")
                resolved.append((step, []))
                continue
            proto = get_processor(step.transformer, **step.params)
            fanout: list[tuple[DataProcessor, list[str], str]] = []
            if isinstance(proto, Nto1ColumnProcessor):
                out_col = step.output.format(col_name=cols[0]) if "{col_name}" in step.output else step.output
                fanout.append((proto, cols, out_col))
                cur[out_col] = MLType.from_str(proto.output_mltype)
            else:
                for c in cols:
                    p = get_processor(step.transformer, **step.params)
                    out_col = step.output.format(col_name=c)
                    fanout.append((p, [c], out_col))
                    cur[out_col] = MLType.from_str(p.output_mltype)
            resolved.append((step, fanout))
        return resolved

    # -- execution ----------------------------------------------------------
    def fit_transform(self, df: DataFrame) -> DataFrame:
        self._resolved = self._resolve(self._schema_of(df))
        self.perf = []
        out = df
        for step, fanout in self._resolved:
            t0 = time.perf_counter()
            for proc, in_cols, out_col in fanout:
                proc.fit(out, in_cols)  # tiny aggregation action (or no-op)
            fit_ms = (time.perf_counter() - t0) * 1000
            out = self._apply_step(out, fanout)
            self.perf.append(StepPerf(step.output, step.transformer, len(fanout), fit_ms))
        return out

    def transform(self, df: DataFrame) -> DataFrame:
        if self._resolved is None:
            raise RuntimeError("pipeline not fitted — call fit_transform first")
        out = df
        for step, fanout in self._resolved:
            live = []
            for proc, in_cols, out_col in fanout:
                missing = [c for c in in_cols if c not in out.columns]
                if missing:
                    if self.missing_column_behavior == MissingColumnBehavior.ERROR:
                        raise ValueError(f"missing input columns {missing}")
                    if self.missing_column_behavior == MissingColumnBehavior.SKIP:
                        continue
                live.append((proc, in_cols, out_col))
            out = self._apply_step(out, live)
        return out

    @staticmethod
    def _apply_step(df: DataFrame, fanout: list[tuple[DataProcessor, list[str], str]]) -> DataFrame:
        out = df
        for proc, in_cols, out_col in fanout:
            if isinstance(proc, Nto1ColumnProcessor):
                try:
                    expr = proc.transform_expr([F.col(c) for c in in_cols], in_cols)
                    out = out.withColumn(out_col, expr)
                except NotImplementedError:
                    out = proc.apply(out, in_cols, out_col)  # type: ignore[attr-defined]
            elif isinstance(proc, SingleColumnProcessor):
                out = proc.apply(out, in_cols[0], out_col)
            else:
                raise TypeError(f"unknown processor kind {type(proc)}")
        return out
