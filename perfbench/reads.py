"""Analyst reads: SOQL ``Id`` lookups and ``COUNT()`` queries through
``soql.run_soql``, each checked against an expected table held in Python
(Id -> row in ``gen.ENTITY_COLS`` order)."""

from __future__ import annotations

import gen
from checks import check_rows, check_value
from context import Run, median
from eventlog import EventLog, totals

LOOKUP_FIELDS = ["Id", "o_custkey", "o_orderstatus", "o_totalprice", "SystemModstamp"]
_LOOKUP_IDX = [gen.ENTITY_COLS.index(c) for c in LOOKUP_FIELDS]
TABLE = "orders"


def lookup(r: Run, load_fn, model: dict, key: str, samples: list | None) -> None:
    from pgsf_spark import soql

    q = f"SELECT {', '.join(LOOKUP_FIELDS)} FROM {TABLE} WHERE Id = '{key}'"
    with r.tracer.span("soql.lookup") as span:
        got, dt = r.timed(lambda: [tuple(x) for x in soql.run_soql(load_fn, q).collect()])
        if span is not None and got is not None:
            span.attrs["rows"] = len(got)
    if got is None:
        return
    exp = [tuple(model[key][i] for i in _LOOKUP_IDX)] if key in model else []
    r.check(check_rows(f"lookup {key}", LOOKUP_FIELDS, got, exp))
    if samples is not None:
        samples.append(dt)


def count(r: Run, load_fn, model: dict, rng, samples: list | None) -> None:
    from pgsf_spark import soql

    status = str(rng.choice(["O", "F", "P"]))
    price = round(float(rng.uniform(1000, 500000)), 2)
    q = f"SELECT COUNT() FROM {TABLE} WHERE o_orderstatus = '{status}' AND o_totalprice > {price}"
    with r.tracer.span("soql.count") as span:
        got, dt = r.timed(lambda: soql.run_soql(load_fn, q))
        if span is not None and got is not None:
            span.attrs["rows"] = got
    if got is None:
        return
    exp = sum(1 for x in model.values() if x[2] == status and x[3] > price)
    r.check(check_value(f"count {status} > {price}", got, exp))
    if samples is not None:
        samples.append(dt)


def layers(r: Run, log: EventLog, cores: int, measured_prefix: str) -> dict:
    """Median latency of the measured reads (those in steps named
    ``<measured_prefix>N``), and rows the scans read per row returned."""
    tr = r.tracer
    samples = r.info["samples"]
    out = {"soql.lookup_p50_ms": 1e3 * median(samples["lookups"]),
           "soql.count_p50_ms": 1e3 * median(samples["counts"])}
    for kind in ("lookup", "count"):
        scanned = returned = 0
        for s in tr.named(f"soql.{kind}"):
            if not (s.step or "").startswith(measured_prefix):
                continue
            scanned += totals(log, log.jobs_where(span_ids=tr.subtree(s.id)), cores)["input_records"]
            returned += s.attrs.get("rows", 0)
        out[f"soql.{kind}_rows_scanned_per_row_returned"] = scanned / returned if returned else 0.0
    return out
