"""Headless workbench core shared by the TUI, the REPL and tests.

Covers what the reference workbench app computes behind its widgets
(ref workbench/app.py: model tree sidebar, query run + SQL preview,
result table; workbench/validation_app.py: graph validation list).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any


@dataclass
class QueryResult:
    columns: list[str]
    rows: list[tuple]
    compiled_sql: str
    elapsed_ms: float
    error: str | None = None


@dataclass
class ValidationIssue:
    severity: str  # "error" | "warning"
    model: str
    message: str


@dataclass
class WorkbenchSession:
    layer: Any
    history: list[str] = field(default_factory=list)
    row_limit: int = 200

    def model_tree(self) -> dict[str, dict[str, list[str]]]:
        """models -> {dimensions: [...], metrics: [...]} for the
        sidebar tree (ref workbench/app.py tree panel)."""
        out: dict[str, dict[str, list[str]]] = {}
        for name, model in self.layer.graph.models.items():
            out[name] = {
                "dimensions": [d.name for d in model.dimensions],
                "metrics": [m.name for m in model.metrics],
            }
        return out

    def compile(self, sql: str) -> str:
        """Semantic SQL -> executable Spark SQL (no execution)."""
        return self.layer.rewrite(sql)

    def run(self, sql: str) -> QueryResult:
        """Execute semantic SQL, bounded by ``row_limit``."""
        from sidemantic_spark.server.transport import fetch, to_rows

        t0 = time.perf_counter()
        try:
            compiled = self.layer.rewrite(sql)
            df = self.layer.sql(sql)
            table, _ = fetch(df, self.row_limit)
            self.history.append(sql)
            return QueryResult(
                columns=table.column_names,
                rows=to_rows(table, df.schema),
                compiled_sql=compiled,
                elapsed_ms=(time.perf_counter() - t0) * 1000,
            )
        except Exception as exc:
            return QueryResult(
                columns=[],
                rows=[],
                compiled_sql="",
                elapsed_ms=(time.perf_counter() - t0) * 1000,
                error=f"{type(exc).__name__}: {exc}",
            )

    def validate(self) -> list[ValidationIssue]:
        """Graph sanity checks (ref workbench/validation_app.py):
        unknown relationship targets, missing FK columns on the model's
        own dimension/metric SQL surface, empty models, dangling
        metric references."""
        issues: list[ValidationIssue] = []
        models = self.layer.graph.models
        for name, model in models.items():
            if not model.metrics and not model.dimensions:
                issues.append(ValidationIssue(
                    "warning", name, "model has no dimensions or metrics"
                ))
            for rel in model.relationships:
                if rel.name not in models:
                    issues.append(ValidationIssue(
                        "error", name,
                        f"relationship '{rel.name}' targets unknown model",
                    ))
            for metric in model.metrics:
                if metric.type == "ratio":
                    for leg in (metric.numerator, metric.denominator):
                        if leg and "." not in leg and model.metric(leg) is None:
                            issues.append(ValidationIssue(
                                "error", name,
                                f"ratio metric '{metric.name}' references "
                                f"unknown metric '{leg}'",
                            ))
                if metric.type == "derived" and not (metric.expr or metric.sql):
                    issues.append(ValidationIssue(
                        "error", name,
                        f"derived metric '{metric.name}' has no expression",
                    ))
        return issues
