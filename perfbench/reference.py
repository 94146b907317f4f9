"""Independent correctness reference for the benchmark's pipeline runs.

Every fixture row is drawn from a 5,000-line pool, so the reference
decodes and parses each distinct token sequence once, with the
row-at-a-time pandas oracle's ``decode_row``/``parse_row``
(``tests/oracle_pandas.py``), and derives per-row tags, grep drops,
rewrite-tag copies, routes and DLQ reasons in plain Python. Nothing
here calls into the Spark code paths under test. Outputs are read back
with pyarrow.
"""

from __future__ import annotations

import collections
import glob
import os
import re
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from tests.oracle_pandas import decode_row, parse_row


@dataclass
class Expected:
    rows_in: int
    sinks: dict[str, int]
    dlq: dict[str, int]
    grep_dropped: int


@dataclass
class Observed:
    sinks: dict[str, int] = field(default_factory=dict)
    doc_ids: set = field(default_factory=set)
    dlq: dict[str, int] = field(default_factory=dict)
    files: dict[str, int] = field(default_factory=dict)
    bytes: dict[str, int] = field(default_factory=dict)


def footer_rows(paths: list[str]) -> int:
    """Input rows counted from parquet footers."""
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def _glob_rx(pattern: str) -> re.Pattern:
    # fluent-bit glob: '*' matches any run, every other char is literal
    return re.compile("^" + "".join(".*" if c == "*" else re.escape(c)
                                    for c in pattern) + "$")


def expected_counts(files: list[str], vocab: list[str],
                    routes: list[tuple[str, str, str]],
                    grep_rules: list[tuple[str, str, bool]],
                    error_copy: bool) -> Expected:
    """Reference per-sink rows and DLQ rows by reason.

    ``grep_rules`` are ``(key, pattern, exclude)`` over ``source`` or
    ``fields.level``, ANDed; ``error_copy`` is the ``level=error ->
    err.<source>`` rewrite with ``keep=True``."""
    order: list[str] = []
    for s, _, _ in routes:
        if s not in order:
            order.append(s)
    rxs = [(s, _glob_rx(p)) for s, p, mt in routes if mt == "glob"]
    if len(rxs) != len(routes):
        raise ValueError("reference supports glob routes only")
    route_cache: dict[str, tuple[str, ...]] = {}

    def sinks_of(tag: str) -> tuple[str, ...]:
        if tag not in route_cache:
            hit = {s for s, rx in rxs if rx.match(tag)}
            route_cache[tag] = tuple(s for s in order if s in hit)
        return route_cache[tag]

    parsed: dict[bytes, dict] = {}
    sinks = dict.fromkeys(order, 0)
    dlq = {"parse_fail": 0, "no_route": 0}
    rows_in = dropped = 0
    for path in files:
        t = pq.read_table(path, columns=["tokens", "source"])
        tok = t.column("tokens").combine_chunks()
        values = tok.values.to_numpy(zero_copy_only=False)
        offsets = tok.offsets.to_numpy()
        sources = t.column("source").to_pylist()
        for i, source in enumerate(sources):
            key = values[offsets[i]:offsets[i + 1]].tobytes()
            p = parsed.get(key)
            if p is None:
                p = parse_row(decode_row(values[offsets[i]:offsets[i + 1]]
                                         .tolist(), vocab))
                parsed[key] = p
            rows_in += 1
            fields = {"source": source, "fields.level": p["level"]}
            keep = True
            for k, pat, exclude in grep_rules:
                v = fields[k]
                m = v is not None and re.search(pat, v) is not None
                keep = keep and (not m if exclude else m)
            if not keep:
                dropped += 1
                continue
            tags = [f"app.{source}.{p['kind'] or 'raw'}"]
            if error_copy and p["level"] == "error":
                tags.append(f"err.{source}")
            for j, tag in enumerate(tags):
                hit = sinks_of(tag)
                if p["kind"] is None:
                    dlq["parse_fail"] += 1
                elif not hit:
                    dlq["no_route"] += 1
                else:
                    for s in hit:
                        sinks[s] += 1
    return Expected(rows_in, sinks, dlq, dropped)


def _parts(d: str) -> list[str]:
    return [p for p in glob.glob(os.path.join(d, "**", "part-*"),
                                 recursive=True)
            if p.endswith(".parquet")]


def read_outputs(out_dir: str, sinks: list[str]) -> Observed:
    """Per-sink rows, files and bytes, the distinct doc_ids across all
    sinks, and DLQ rows by reason, read from the written parquet."""
    obs = Observed()
    for s in sinks + ["dlq"]:
        d = os.path.join(out_dir, "dlq" if s == "dlq" else f"sinks/{s}")
        parts = _parts(d)
        obs.files[s] = len(parts)
        obs.bytes[s] = sum(os.path.getsize(p) for p in parts)
        if s == "dlq":
            reasons = collections.Counter()
            for p in parts:
                reasons.update(pq.read_table(p, columns=["dlq_reason"])
                               .column(0).to_pylist())
            obs.dlq = dict(reasons)
            obs.sinks["dlq"] = sum(reasons.values())
            continue
        n = 0
        for p in parts:
            ids = pq.read_table(p, columns=["doc_id"]).column(0).to_pylist()
            n += len(ids)
            obs.doc_ids.update(ids)
        obs.sinks[s] = n
    return obs


def check(exp: Expected, obs: Observed) -> list[str]:
    """Mismatches between the reference and the outputs; empty if none.
    Conservation: input rows = distinct good rows + DLQ rows + grep
    drops (rewrite-tag copies share their original's doc_id)."""
    errs = []
    for s, n in exp.sinks.items():
        if obs.sinks.get(s) != n:
            errs.append(f"{s}: {obs.sinks.get(s)} rows, expected {n}")
    for reason, n in exp.dlq.items():
        if obs.dlq.get(reason, 0) != n:
            errs.append(f"dlq {reason}: {obs.dlq.get(reason, 0)} rows, "
                        f"expected {n}")
    extra = set(obs.dlq) - set(exp.dlq)
    if extra:
        errs.append(f"dlq has unexpected reasons {sorted(extra)}")
    total = len(obs.doc_ids) + sum(obs.dlq.values()) + exp.grep_dropped
    if total != exp.rows_in:
        errs.append(f"conservation: {len(obs.doc_ids)} good + "
                    f"{sum(obs.dlq.values())} dlq + {exp.grep_dropped} "
                    f"grep-dropped != {exp.rows_in} input rows")
    return errs
