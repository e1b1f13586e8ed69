"""Output checks. Each returns (attempted, failed, notes): ``attempted``
counts the individual checks made (one per expected result row, per
partition marker, per conservation count), ``failed`` those that did
not hold, and ``notes`` lists the first failing rows.

The references share no code with the program: Q1/Q2 are recomputed
in DuckDB over the generated input, the admission gate is replayed by
a pure-Python sequential fold, and registry queries are compared with
their DuckDB oracles.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
from collections import Counter
from datetime import datetime, timezone
from decimal import Decimal

import duckdb

MAX_NOTES = 10
# The reference job's watermark delay (5 s behind the latest event).
WATERMARK_DELAY_MS = 5000


def _diff(want: Counter, got: Counter, label: str) -> tuple[int, list[str]]:
    missing = want - got
    extra = got - want
    notes = [f"{label} missing {k}" for k in list(missing)[:MAX_NOTES]]
    notes += [f"{label} unexpected {k}" for k in list(extra)[: MAX_NOTES - len(notes)]]
    return sum(missing.values()) + sum(extra.values()), notes


def reference_outputs(
    input_glob: str,
    q1_dir: str,
    q2_dir: str,
    watermarks_ms: list[int | None],
    consumed: list[int],
) -> tuple[int, int, list[str], dict]:
    """Check both reference queries' sink output against a DuckDB
    recomputation over the generated input.

    Q1: per (sensor, 30 s window) count(temperature > 30), HAVING > 3.
    Q2: per (sensor, 60 s window) floor(avg(temperature)) as BIGINT,
    under year=/month=/day=/hour= directories of the window start,
    with a _SUCCESS marker in every partition directory written.
    Append mode emits exactly the windows whose end is at or below the
    final watermark. Once the backlog is drained that watermark is the
    latest event time in the input minus the 5 s delay, so each
    expectation is cut there, and the watermark each query reports
    (``watermarks_ms``, Q1 then Q2; None if it reported none) must
    equal it. ``consumed`` (summed input rows per query) must equal the
    landed count.
    """
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(
        "CREATE VIEW r AS SELECT sensor_id, temperature, epoch_ms(event_time) AS ms "
        f"FROM read_parquet('{input_glob}')"
    )
    landed, max_ms = con.execute("SELECT count(*), max(ms) FROM r").fetchone()
    watermark = max_ms - WATERMARK_DELAY_MS
    want_q1 = Counter(
        con.execute(
            f"""SELECT sensor_id, count(*) FILTER (WHERE temperature > 30) AS c,
                       (ms // 30000) * 30000 AS w
                FROM r GROUP BY sensor_id, w
                HAVING c > 3 AND w + 30000 <= {watermark}"""
        ).fetchall()
    )
    want_q2 = Counter(
        con.execute(
            f"""SELECT sensor_id, CAST(floor(avg(temperature)) AS BIGINT),
                       (ms // 60000) * 60000 AS w,
                       year(to_timestamp(w / 1000)), month(to_timestamp(w / 1000)),
                       day(to_timestamp(w / 1000)), hour(to_timestamp(w / 1000))
                FROM r GROUP BY sensor_id, w
                HAVING w + 60000 <= {watermark}"""
        ).fetchall()
    )
    ts = "epoch_ms(CAST(start_event_time AS TIMESTAMPTZ))"
    q1_glob = q1_dir + "/*.json"
    got_q1 = Counter(
        con.execute(
            f"SELECT sensor_id, count_temp, {ts} FROM "
            + _json_src(q1_glob, {"sensor_id": "VARCHAR", "count_temp": "BIGINT", "start_event_time": "VARCHAR"}, False)
        ).fetchall()
    ) if glob.glob(q1_glob) else Counter()
    q2_glob = q2_dir + "/year=*/month=*/day=*/hour=*/*.json"
    got_q2 = Counter(
        con.execute(
            f"SELECT sensor_id, avg_temp, {ts}, CAST(year AS BIGINT), CAST(month AS BIGINT),"
            " CAST(day AS BIGINT), CAST(hour AS BIGINT) FROM "
            + _json_src(q2_glob, {"sensor_id": "VARCHAR", "avg_temp": "BIGINT", "start_event_time": "VARCHAR"}, True)
        ).fetchall()
    ) if glob.glob(q2_glob) else Counter()
    con.close()
    bad1, notes = _diff(want_q1, got_q1, "q1")
    bad2, notes2 = _diff(want_q2, got_q2, "q2")
    notes += notes2
    part_dirs = sorted({os.path.dirname(f) for f in glob.glob(q2_glob)})
    unmarked = [d for d in part_dirs if not os.path.exists(os.path.join(d, "_SUCCESS"))]
    notes += [f"q2 partition without _SUCCESS: {d}" for d in unmarked[:MAX_NOTES]]
    lost = [n for n in consumed if n != landed]
    notes += [f"consumed {n} rows of {landed} landed" for n in lost]
    off = [(q, w) for q, w in zip(("q1", "q2"), watermarks_ms) if w != watermark]
    notes += [f"{q} final watermark {w} ms, input gives {watermark} ms" for q, w in off]
    attempted = sum(want_q1.values()) + sum(want_q2.values()) + len(part_dirs) + len(consumed) + len(watermarks_ms)
    failed = bad1 + bad2 + len(unmarked) + len(lost) + len(off)
    detail = {
        "landed_rows": landed,
        "q1_rows": sum(want_q1.values()),
        "q1_written": sum(got_q1.values()),
        "q2_rows": sum(want_q2.values()),
        "q1_windows": len({k[2] for k in want_q1}),
        "q2_partition_dirs": len(part_dirs),
        "markers_written": len(part_dirs) - len(unmarked),
        "q2_files": len(glob.glob(q2_glob)),
        "q2_bytes": sum(os.path.getsize(f) for f in glob.glob(q2_glob)),
    }
    return attempted, failed, notes[:MAX_NOTES], detail


def _json_src(pattern: str, columns: dict[str, str], hive: bool) -> str:
    cols = ", ".join(f"'{k}': '{v}'" for k, v in columns.items())
    return (
        f"read_json('{pattern}', columns={{{cols}}}, format='newline_delimited',"
        f" hive_partitioning={str(hive).lower()})"
    )


def winnow_fingerprints(text: str) -> set[str]:
    """MOSS winnowing, written independently of the program: md5 of
    each 4-word gram keyed md5hex || zfill(99999 - pos); the minimum of
    each window of 4 keys, truncated to the hash; distinct."""
    w = text.strip().split()
    if len(w) < 7:
        return set()
    keys = [
        hashlib.md5(" ".join(w[i : i + 4]).encode()).hexdigest() + str(99999 - (i + 1)).zfill(5)
        for i in range(len(w) - 3)
    ]
    return {min(keys[s : s + 4])[:32] for s in range(len(keys) - 3)}


def admission_fold(
    batches: list[list[tuple[int, str]]], min_shared: int = 3, max_df: int = 20
) -> tuple[dict[int, tuple], dict[str, set[int]]]:
    """Sequential fold with the winnowing gate's rule: each document
    of a batch is probed against the index as it stood at batch start;
    fingerprints held by more than ``max_df`` indexed documents are
    ignored; a document sharing >= ``min_shared`` fingerprints with an
    indexed one is rejected with its best match (most shared, then
    lowest id); admitted documents fold in after the batch. The index
    is inverted (fingerprint -> documents), so a probe costs the
    postings it touches, not the whole corpus."""
    postings: dict[str, set[int]] = {}
    want: dict[int, tuple] = {}
    for batch in batches:
        admitted = []
        for doc_id, text in batch:
            fps = winnow_fingerprints(text)
            shared: Counter = Counter()
            for h in fps:
                docs = postings.get(h)
                if docs and len(docs) <= max_df:
                    shared.update(docs)
            hits = [(n, -d) for d, n in shared.items() if n >= min_shared]
            if hits:
                n, neg = max(hits)
                want[doc_id] = (-neg, n, False)
            else:
                want[doc_id] = (None, None, True)
                admitted.append((doc_id, fps))
        for doc_id, fps in admitted:
            for h in fps:
                postings.setdefault(h, set()).add(doc_id)
    return want, postings


def admission(
    batches: list[list[tuple[int, str]]],
    decisions: dict[int, tuple],
    index_rows: set[tuple[int, str]],
) -> tuple[int, int, list[str]]:
    """Compare the gate's per-document decisions and its final index
    with the sequential fold."""
    want, postings = admission_fold(batches)
    notes = []
    failed = 0
    for doc_id, w in want.items():
        got = decisions.get(doc_id)
        if got != w:
            failed += 1
            if len(notes) < MAX_NOTES:
                notes.append(f"doc {doc_id}: gate {got} fold {w}")
    extra = set(decisions) - set(want)
    failed += len(extra)
    want_index = {(d, h) for h, docs in postings.items() for d in docs}
    index_bad = len(want_index ^ index_rows)
    if index_bad:
        notes.append(f"index differs from fold in {index_bad} rows")
    return len(want) + 1, failed + (1 if index_bad else 0), notes[:MAX_NOTES]


def _canon_value(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        return "0.0" if r == 0 else repr(r)
    if isinstance(v, Decimal):
        return repr(round(float(v), 6))
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_value(x) for x in v) + "]"
    return str(v)


def _canon(cols: list[str], rows: list[tuple]) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_canon_value(r[i]) for i in order) for r in rows)


def oracle(
    name: str, cols: list[str], rows: list[tuple], sql: str, fixture_dir: str
) -> tuple[int, int, list[str]]:
    """Compare a registry query's collected rows with its DuckDB oracle
    over the same fixture: column names, then an order-insensitive
    canonical multiset (columns by name, floats to 6 places)."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for f in sorted(glob.glob(os.path.join(fixture_dir, "*.parquet"))):
        table = os.path.basename(f)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{f}'")
    cur = con.execute(sql)
    d_cols = [d[0] for d in cur.description]
    d_rows = cur.fetchall()
    con.close()
    if sorted(d_cols) != sorted(cols):
        return max(1, len(d_rows)), max(1, len(d_rows)), [f"{name}: columns {sorted(cols)} != oracle {sorted(d_cols)}"]
    bad, notes = _diff(_canon(d_cols, d_rows), _canon(cols, rows), name)
    return max(1, len(d_rows)), min(bad, max(1, len(d_rows))), notes
