"""Seeded input generators for the benchmark workloads.

Every generator takes the run's seed and returns only data: parquet
files for the program to read and the parameters that shaped them.
Nothing here imports the program under test.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 2026-01-01T00:00:00Z; every generated clock is an offset from it.
EPOCH0 = 1767225600

READING_SCHEMA = pa.schema(
    [
        ("sensor_id", pa.string()),
        ("temperature", pa.int64()),
        ("event_time", pa.timestamp("ms", tz="UTC")),
    ]
)

# The shared test fixtures' document vocabulary (it includes the BM25
# query terms spark/join/window); generated words are appended so
# that unrelated documents rarely share a 4-word gram.
BASE_WORDS = (
    "a agg batch big column data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()


def _land(path: str, table: pa.Table, mtime: float) -> None:
    """Write ``table`` to a temp name, then rename it into place, the
    way a producer lands a complete file for a file-stream source."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.utime(tmp, (mtime, mtime))
    os.rename(tmp, path)


def zipf_weights(n: int, skew: float) -> np.ndarray:
    """Zipf-like popularity: weight of rank r is 1 / (r + 1)**skew."""
    w = 1.0 / np.arange(1, n + 1) ** skew
    return w / w.sum()


def readings_table(rng: np.random.Generator, n_sensors: int, event_time_s: np.ndarray) -> pa.Table:
    """Producer-shaped records (kfpLambdaStreamProducer): a sensor id
    ``str(randint(1, n_sensors))``, uniform like the producer's, a
    temperature ``randint(27, 32)`` straddling the > 30 alert
    predicate, and a millisecond event time."""
    n = len(event_time_s)
    ids = rng.integers(1, n_sensors + 1, size=n).astype(str).astype(object)
    temps = rng.integers(27, 33, size=n, dtype=np.int64)
    ms = np.floor(event_time_s * 1000.0).astype(np.int64)
    return pa.table(
        [pa.array(ids), pa.array(temps), pa.array(ms, pa.timestamp("ms", tz="UTC"))],
        schema=READING_SCHEMA,
    )


def sensor_backlog(
    out_dir: str,
    seed: int,
    n_files: int,
    events_per_file: int,
    n_sensors: int,
    rate_per_s: float,
    jitter_s: float,
) -> dict:
    """A pre-written backlog of reading files, oldest first.

    Arrival times are evenly spaced at ``rate_per_s``; event time is
    arrival minus a uniform jitter below ``jitter_s``. With the jitter
    under the 5 s watermark delay, no event is ever behind the
    watermark of the batch that reads it, so no row is late and the
    windowed output is deterministic. An hour boundary falls a quarter
    of the way into the span, so Q2 writes more than one hour
    partition.
    """
    rng = np.random.default_rng(seed)
    total = n_files * events_per_file
    span = total / rate_per_s
    t0 = EPOCH0 + 3600 * (1 + seed % 500) - span / 4
    arrival = t0 + np.arange(total) / rate_per_s
    event_time = arrival - rng.uniform(0.0, jitter_s, size=total)
    os.makedirs(out_dir, exist_ok=True)
    base_mtime = 1_000_000_000.0
    for f in range(n_files):
        sl = slice(f * events_per_file, (f + 1) * events_per_file)
        _land(
            os.path.join(out_dir, f"readings-{f:05d}.parquet"),
            readings_table(rng, n_sensors, event_time[sl]),
            base_mtime + f,
        )
    return {
        "events": total,
        "files": n_files,
        "events_per_file": events_per_file,
        "sensors": n_sensors,
        "event_rate_per_s": rate_per_s,
        "event_span_s": round(span, 3),
        "jitter_bound_s": jitter_s,
    }


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    extra = size - len(BASE_WORDS)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    made = set(BASE_WORDS)
    words = list(BASE_WORDS)
    while len(words) < len(BASE_WORDS) + extra:
        w = "".join(rng.choice(letters, size=int(rng.integers(4, 9))))
        if w not in made:
            made.add(w)
            words.append(w)
    return words


def documents(
    seed: int,
    n_docs: int,
    dup_share: float,
    vocab_size: int = 4000,
    min_words: int = 30,
    max_words: int = 90,
    edit_share: float = 0.04,
) -> list[tuple[int, str]]:
    """``n_docs`` (doc_id, text) rows with a planted near-duplicate
    share: a planted document copies an earlier one and replaces about
    ``edit_share`` of its words. Words follow a Zipf law over the
    vocabulary, so common grams exist for the stop-gram gates."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng, vocab_size), dtype=object)
    zipf = zipf_weights(vocab_size, 1.0)
    texts: list[list[str]] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < dup_share:
            words = list(texts[int(rng.integers(0, i))])
            n_edit = max(1, int(len(words) * edit_share))
            pos = rng.choice(len(words), size=n_edit, replace=False)
            for p, w in zip(pos, rng.choice(vocab, size=n_edit, p=zipf)):
                words[int(p)] = w
        else:
            n = int(rng.integers(min_words, max_words + 1))
            words = list(rng.choice(vocab, size=n, p=zipf))
        texts.append(words)
    return [(i, " ".join(w)) for i, w in enumerate(texts)]


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def document_stream(
    out_dir: str, docs: list[tuple[int, str]], docs_per_file: int
) -> int:
    """Land ``docs`` as files of ``docs_per_file`` rows in id order;
    returns the file count."""
    os.makedirs(out_dir, exist_ok=True)
    n_files = 0
    for start in range(0, len(docs), docs_per_file):
        chunk = docs[start : start + docs_per_file]
        table = pa.table(
            [pa.array([d[0] for d in chunk], pa.int64()), pa.array([d[1] for d in chunk])],
            schema=DOC_SCHEMA,
        )
        _land(
            os.path.join(out_dir, f"docs-{n_files:05d}.parquet"),
            table,
            1_000_000_000.0 + n_files,
        )
        n_files += 1
    return n_files


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, size=n)


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def registry_fixture(out_dir: str, seed: int, scale: float) -> dict:
    """A fixture directory shaped like the shared TPC-H-ish test tables
    (customer, orders, lineitem, nation), documents and embeddings, at
    ``scale`` (1.0 = 150k customers). Same column names and parquet
    types as those fixtures (FIXTURES.md), so the registered queries and their
    DuckDB oracles run on it unchanged."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_ord = n_cust * 10
    names = [
        "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
        "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
        "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
        "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
        "UNITED STATES",
    ]
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array(names),
                "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
    )
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object
    )
    custkey = np.arange(1, n_cust + 1, dtype=np.int64)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(custkey),
                "c_name": pa.array([f"Customer#{k:09d}" for k in custkey]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
                "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    orderkey = np.arange(1, n_ord + 1, dtype=np.int64)
    odate = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    li_order = np.repeat(orderkey, lines)
    li_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    unit = np.round(rng.uniform(900.0, 2100.0, n_li), 2)
    price = np.round(qty * unit, 2)
    disc = np.round(rng.integers(0, 11, n_li) / 100.0, 2)
    tax = np.round(rng.integers(0, 9, n_li) / 100.0, 2)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li)
    total = np.round(np.bincount(np.repeat(np.arange(n_ord), lines), weights=price * (1 + tax) * (1 - disc)), 2)
    status = np.array(["F", "O", "P"], dtype=object)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(orderkey),
                "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord).astype(np.int64)),
                "o_orderstatus": pa.array(status[rng.integers(0, 3, n_ord)]),
                "o_totalprice": pa.array(total),
                "o_orderdate": _ts_us(odate),
                "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)]),
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
    )
    flags = np.array(["A", "N", "R"], dtype=object)
    lstat = np.array(["F", "O"], dtype=object)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(li_order),
                "l_partkey": pa.array(rng.integers(1, n_cust * 4 // 3 + 2, n_li).astype(np.int64)),
                "l_suppkey": pa.array(rng.integers(1, max(2, n_cust // 15), n_li).astype(np.int64)),
                "l_linenumber": pa.array(li_num),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(price),
                "l_discount": pa.array(disc),
                "l_tax": pa.array(tax),
                "l_returnflag": pa.array(flags[rng.integers(0, 3, n_li)]),
                "l_linestatus": pa.array(lstat[rng.integers(0, 2, n_li)]),
                "l_shipdate": _ts_us(ship),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
    )
    n_docs = int(50_000 * scale)
    docs = documents(seed + 1, n_docs, dup_share=0.2)
    langs = np.array(["de", "en", "es", "fr", "zh"], dtype=object)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d[0] for d in docs], pa.int64()),
                "text": pa.array([d[1] for d in docs]),
                "lang": pa.array(langs[rng.integers(0, 5, n_docs)]),
                "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
                "n_chars": pa.array([len(d[1]) for d in docs], pa.int64()),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )
    n_vec = int(20_000 * scale)
    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return {
        "customers": n_cust,
        "orders": n_ord,
        "lineitems": n_li,
        "documents": n_docs,
        "document_dup_share": 0.2,
        "embeddings": n_vec,
    }
