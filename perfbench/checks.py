"""Output checks against the references of `perfbench.inputs`.

Each check returns None when the output is correct, else a one-line
reason; a pass whose check fails counts as failed. Registry rows use the
normalization and type canonicalization of `tools/check_oracles.py`.
"""

from __future__ import annotations

from tools.check_oracles import canon_spark_type, norm


def flagship(rows: list[tuple], reference: list[tuple]) -> str | None:
    """Per-sink x role_group counts and byte sums against O_PIPELINE_E2E."""
    got = sorted(rows)
    if got == reference:
        return None
    diff = [(a, b) for a, b in zip(got, reference) if a != b][:2]
    return f"pipeline aggregate differs from reference: {len(got)} vs {len(reference)} rows, e.g. {diff}"


def sink_partitions(per_route: dict[str, int], counts: dict[str, int]) -> str | None:
    """Rows written under each route= partition against the returned counts."""
    if per_route == counts:
        return None
    return f"rows written per route {per_route} != returned sink counts {counts}"


def registry(name: str, dtypes: list[tuple[str, str]], rows: list, reference) -> str | None:
    """One query's collected rows against its DuckDB oracle."""
    ref_cols, ref_types, ref_rows = reference
    cols = sorted(c for c, _ in dtypes)
    if cols != ref_cols:
        return f"{name}: columns {cols} vs {ref_cols}"
    stypes = {c: canon_spark_type(t) for c, t in dtypes}
    bad = {c: (stypes[c], ref_types[c]) for c in cols if stypes[c] != ref_types[c]}
    if bad:
        return f"{name}: type mismatch {bad}"
    got = sorted(tuple(norm(r[c]) for c in cols) for r in rows)
    if len(got) != len(ref_rows):
        return f"{name}: {len(got)} rows vs {len(ref_rows)}"
    if got != ref_rows:
        diff = [(a, b) for a, b in zip(got, ref_rows) if a != b][:2]
        return f"{name}: values differ, e.g. {diff}"
    return None
