"""Seeded inputs for every perfbench workload.

Everything the program receives is derived from ``--seed`` here and
nothing else: import files and their sizes, the import request
sequence, sf0.1-shaped tables and SQL parameters, document batches with
planted near-duplicates, and top-k query batches.  The same seed gives
byte-identical files and identical op sequences; op ``i`` of a cycle
draws from ``numpy.random.default_rng([seed, stream, cycle])`` so a
sequence can be extended lazily without changing its prefix.

The large generators run through ``in_child``, in a Python process of
their own, so the arrays they build never count towards the
benchmark's memory peak.
"""

from __future__ import annotations

import datetime as dt
import os
import pickle
import subprocess
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# independent random streams, so adding draws to one leaves the others intact
_FILES, _IMPORT_OPS, _TABLES, _SQL, _DOCS, _DEDUP, _TOPK = range(7)
WARMUP = 999_999  # cycle / op number of the untimed warm-up; the loop never reaches it

# ---------------------------------------------------------------- import_mix

IMPORT_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.decimal128(12, 2)),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_shipdate", pa.date32()),
        ("l_commit_ts", pa.timestamp("us", tz="UTC")),
        ("l_returnflag", pa.string()),
        ("l_comment", pa.string()),
    ]
)
IMPORT_DDL = (
    "l_orderkey bigint, l_partkey bigint, l_linenumber integer, "
    "l_quantity numeric(12,2), l_extendedprice double precision, "
    "l_discount double precision, l_shipdate date, l_commit_ts timestamptz, "
    "l_returnflag text, l_comment text"
)
IMPORT_TABLES = ("import_a", "import_b")
# sizes vary little by seed, so a run's work does not depend on its seed
SMALL_FILES, SMALL_ROWS = 8, (4_800, 5_200)
LARGE_ROWS = (245_000, 255_000)
# a cycle is LARGE_PER_CYCLE runs of one large request then SMALL_PER_LARGE small ones
LARGE_PER_CYCLE, SMALL_PER_LARGE = 2, 7

# COPY text specials (tab, newline, CR, backslash, a literal "\N") and
# multi-byte characters, mixed into comments next to plain words
_COMMENT_WORDS = np.array(
    ["carefully", "final", "deposits", "sleep", "quickly", "ironic", "pending",
     "requests", "boost", "furiously", "tab\there", "two\nlines", "cr\rlf",
     "back\\slash", "\\N", "naïve", "日本語", "quote'd", 'dq"x', "comma,sep"]
)


@dataclass(frozen=True)
class ImportFile:
    path: str
    rows: int
    # (rows, sum l_orderkey, sum l_quantity in cents, sum of comment
    # characters, null comments) — what Postgres must hold after a load
    checksum: tuple[int, int, int, int, int]


@dataclass(frozen=True)
class ImportOp:
    file: ImportFile
    table: str
    truncate: bool


def _decimal_cents(cents: np.ndarray, precision: int, scale: int) -> pa.Array:
    """decimal128 array whose unscaled values are ``cents`` (>= 0)."""
    words = np.zeros(2 * len(cents), dtype=np.int64)
    words[0::2] = cents
    return pa.Array.from_buffers(
        pa.decimal128(precision, scale), len(cents), [None, pa.py_buffer(words)]
    )


def _import_table(rng: np.random.Generator, n: int, key_base: int) -> pa.Table:
    words = [pa.array(_COMMENT_WORDS[rng.integers(0, len(_COMMENT_WORDS), n)]) for _ in range(3)]
    comment = pc.binary_join_element_wise(*words, " ")
    comment = pc.if_else(pa.array(rng.random(n) < 0.05), pa.scalar(None, pa.string()), comment)
    cents = rng.integers(100, 5_001, n)
    day0 = (dt.date(1992, 1, 1) - dt.date(1970, 1, 1)).days
    ts0 = int(dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.table(
        [
            pa.array(key_base + np.arange(n, dtype=np.int64)),
            pa.array(rng.integers(1, 200_000, n)),
            pa.array(rng.integers(1, 8, n).astype(np.int32)),
            _decimal_cents(cents, 12, 2),
            pa.array(np.round(rng.integers(90_000, 10_500_000, n) / 100.0, 2)),
            pa.array(rng.integers(0, 11, n) / 100.0),
            pa.array((day0 + rng.integers(0, 2_400, n)).astype(np.int32)).cast(pa.date32()),
            pa.array(ts0 + rng.integers(0, 4 * 365 * 86_400 * 10**6, n)).cast(
                pa.timestamp("us", tz="UTC")
            ),
            pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n)]),
            comment,
        ],
        schema=IMPORT_SCHEMA,
    )


def _checksum(t: pa.Table) -> tuple[int, int, int, int, int]:
    comment = t.column("l_comment")
    cents = pc.multiply(t.column("l_quantity").cast(pa.decimal128(14, 2)), 100).cast(pa.int64())
    return (
        t.num_rows,
        int(pc.sum(t.column("l_orderkey")).as_py()),
        int(pc.sum(cents).as_py()),
        int(pc.sum(pc.utf8_length(comment)).as_py() or 0),
        comment.null_count,
    )


def make_import_files(seed: int, out_dir: str) -> tuple[list[ImportFile], ImportFile]:
    """The small-file pool and the large file every cycle starts with."""
    rng = np.random.default_rng([seed, _FILES])
    os.makedirs(out_dir, exist_ok=True)
    sizes = [int(rng.integers(*SMALL_ROWS, endpoint=True)) for _ in range(SMALL_FILES)]
    sizes.append(int(rng.integers(*LARGE_ROWS, endpoint=True)))
    files, key_base = [], 1
    for i, n in enumerate(sizes):
        t = _import_table(rng, n, key_base)
        key_base += n
        path = os.path.join(out_dir, f"import_{i}.parquet")
        pq.write_table(t, path)
        files.append(ImportFile(path, n, _checksum(t)))
    return files[:-1], files[-1]


def import_cycle(seed: int, cycle: int, small: list[ImportFile], large: ImportFile) -> list[ImportOp]:
    """LARGE_PER_CYCLE times one large request followed by SMALL_PER_LARGE
    small ones; each picks a target table, and a seeded half of them
    truncate it first."""
    rng = np.random.default_rng([seed, _IMPORT_OPS, cycle])
    picks = []
    for _ in range(LARGE_PER_CYCLE):
        picks += [large] + [small[int(i)] for i in rng.integers(0, len(small), SMALL_PER_LARGE)]
    truncate = rng.permutation([i < len(picks) // 2 for i in range(len(picks))])
    return [
        ImportOp(f, IMPORT_TABLES[int(rng.integers(0, len(IMPORT_TABLES)))], bool(t))
        for f, t in zip(picks, truncate)
    ]


# ------------------------------------------------------------- sql_analytics

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
NATIONS = (
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("view", "click", "cart", "purchase", "search", "share")
ORDER_DAY0 = dt.date(1992, 1, 1)
ORDER_DAYS = 2_405  # through 1998-08-02, as in TPC-H
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_S = 30 * 86_400

# the fact tables each template reads; their rows make up its work
SQL_FACT_TABLES = {
    "q1": ("lineitem",), "q3": ("orders", "lineitem"), "q5": ("orders", "lineitem"),
    "q6": ("lineitem",), "q10": ("orders", "lineitem"), "events_window": ("events",),
}


def _choice(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _money(rng: np.random.Generator, lo: int, hi: int, n: int) -> pa.Array:
    return pa.array(np.round(rng.integers(lo, hi, n) / 100.0, 2))


def make_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the ten sf0.1-shaped tables ``Engine.register_fixtures``
    expects (``<name>.parquet``) into ``out_dir``; returns row counts."""
    rng = np.random.default_rng([seed, _TABLES])
    os.makedirs(out_dir, exist_ok=True)
    rows = {}

    def write(name: str, cols: dict) -> None:
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": list(NATIONS),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n_cust, n_supp, n_part, n_ord = 15_000, 1_000, 20_000, 150_000
    write("customer", {
        "c_custkey": pa.array(np.arange(1, n_cust + 1)),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, -99_999, 999_999, n_cust),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    write("supplier", {
        "s_suppkey": pa.array(np.arange(1, n_supp + 1)),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, -99_999, 999_999, n_supp),
    })
    write("part", {
        "p_partkey": pa.array(np.arange(1, n_part + 1)),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_brand": _choice(rng, [f"Brand#{i}{j}" for i in range(1, 6) for j in range(1, 6)], n_part),
        "p_type": _choice(rng, ["STANDARD BRASS", "SMALL STEEL", "LARGE TIN", "ECONOMY COPPER"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": _money(rng, 90_000, 200_000, n_part),
    })
    order_day = rng.integers(0, ORDER_DAYS, n_ord)
    day0 = (ORDER_DAY0 - dt.date(1970, 1, 1)).days
    write("orders", {
        "o_orderkey": pa.array(np.arange(1, n_ord + 1)),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 90_000, 50_000_000, n_ord),
        "o_orderdate": pa.array((day0 + order_day).astype(np.int32)).cast(pa.date32()),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    lines = rng.integers(1, 8, n_ord)  # 1..7 lines per order, ~600K rows
    okey = np.repeat(np.arange(1, n_ord + 1), lines)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li)
    write("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li)),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": pa.array(qty.astype(np.float64)),
        "l_extendedprice": pa.array(np.round(qty * rng.integers(90_000, 200_000, n_li) / 100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _choice(rng, ["R", "A", "N"], n_li),
        "l_linestatus": _choice(rng, ["O", "F"], n_li),
        "l_shipdate": pa.array(
            (day0 + np.repeat(order_day, lines) + rng.integers(1, 122, n_li)).astype(np.int32)
        ).cast(pa.date32()),
    })
    n_ev = 100_000
    t0 = int(EVENT_T0.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    write("events", {
        "event_id": pa.array(np.arange(1, n_ev + 1)),
        "ts": pa.array(np.sort(t0 + rng.integers(0, EVENT_SPAN_S * 10**6, n_ev))).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, 5_001, n_ev)),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": _money(rng, 0, 100_000, n_ev),
        "props": _choice(rng, ['{"src":"web"}', '{"src":"app"}', '{"src":"api","v":2}'], n_ev),
    })
    docs = make_documents(seed)
    write("documents", {
        "doc_id": pa.array(np.arange(len(docs))),
        "text": docs,
        "lang": pa.array(["en"] * len(docs)),
        "source": _choice(rng, [f"src{i}" for i in range(5)], len(docs)),
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    write_embeddings(seed, os.path.join(out_dir, "embeddings.parquet"))
    return rows


def _day(offset: int) -> str:
    return (ORDER_DAY0 + dt.timedelta(days=int(offset))).isoformat()


SQL_REPEATS = 4  # per template per cycle: enough ops for a steady median and p90


def sql_cycle(seed: int, cycle: int) -> list[tuple[str, str]]:
    """Every template SQL_REPEATS times, in a seeded order, with seeded
    predicates.  Each ORDER BY is total, so both engines return rows in
    one order."""
    rng = np.random.default_rng([seed, _SQL, cycle])
    rev = "sum(l_extendedprice * (1 - l_discount))"
    out = []
    for name in rng.permutation(sorted(SQL_FACT_TABLES) * SQL_REPEATS):
        if name == "q1":
            d = _day(ORDER_DAYS + 121 - int(rng.integers(60, 121)))
            q = (
                "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                "sum(l_extendedprice) AS sum_base, "
                f"{rev} AS sum_disc, "
                "avg(l_quantity) AS avg_qty, avg(l_discount) AS avg_disc, count(*) AS n "
                f"FROM lineitem WHERE l_shipdate <= DATE '{d}' "
                "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
            )
        elif name == "q3":
            d = _day(int(rng.integers(1_100, 1_200)))
            seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
            q = (
                f"SELECT l_orderkey, {rev} AS revenue, o_orderdate, o_orderpriority "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                f"WHERE c_mktsegment = '{seg}' AND o_orderdate < DATE '{d}' "
                f"AND l_shipdate > DATE '{d}' "
                "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
                "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
            )
        elif name == "q5":
            year = int(rng.integers(1993, 1998))
            region = REGIONS[int(rng.integers(0, len(REGIONS)))]
            q = (
                f"SELECT n_name, {rev} AS revenue "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
                "JOIN nation ON s_nationkey = n_nationkey "
                "JOIN region ON n_regionkey = r_regionkey "
                f"WHERE r_name = '{region}' AND o_orderdate >= DATE '{year}-01-01' "
                f"AND o_orderdate < DATE '{year + 1}-01-01' "
                "GROUP BY n_name ORDER BY revenue DESC, n_name"
            )
        elif name == "q6":
            year = int(rng.integers(1993, 1998))
            disc = int(rng.integers(2, 10))
            q = (
                "SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n "
                f"FROM lineitem WHERE l_shipdate >= DATE '{year}-01-01' "
                f"AND l_shipdate < DATE '{year + 1}-01-01' "
                f"AND l_discount BETWEEN {(disc - 1) / 100:.2f} AND {(disc + 1) / 100:.2f} "
                f"AND l_quantity < {int(rng.integers(24, 26))}"
            )
        elif name == "q10":
            start = int(rng.integers(300, ORDER_DAYS - 120))
            q = (
                f"SELECT c_custkey, c_name, {rev} AS revenue, c_acctbal, n_name "
                "FROM customer JOIN orders ON c_custkey = o_custkey "
                "JOIN lineitem ON l_orderkey = o_orderkey "
                "JOIN nation ON c_nationkey = n_nationkey "
                f"WHERE o_orderdate >= DATE '{_day(start)}' "
                f"AND o_orderdate < DATE '{_day(start + 91)}' AND l_returnflag = 'R' "
                "GROUP BY c_custkey, c_name, c_acctbal, n_name "
                "ORDER BY revenue DESC, c_custkey LIMIT 20"
            )
        else:
            hours = int(rng.integers(24, 7 * 24))
            t0 = EVENT_T0 + dt.timedelta(hours=int(rng.integers(0, EVENT_SPAN_S // 3600 - hours)))
            t1 = t0 + dt.timedelta(hours=hours)
            q = (
                "SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n, "
                "sum(value) AS total, count(DISTINCT user_id) AS users FROM events "
                f"WHERE ts >= TIMESTAMP '{t0:%Y-%m-%d %H:%M:%S}' "
                f"AND ts < TIMESTAMP '{t1:%Y-%m-%d %H:%M:%S}' "
                "GROUP BY event_type, date_trunc('hour', ts) ORDER BY event_type, hr"
            )
        out.append((str(name), q))
    return out


# ----------------------------------------------------------------- llm_dedup

_STOP = ("the", "and", "of", "to", "a", "in", "is")
_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "bra", "dum", "pel")
VOCAB = tuple(
    a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in ("", "n", "s")
)
N_DOCS, N_VECS = 5_000, 2_000
DEDUP_BATCH, DEDUP_PLANTED = 400, 20
TOPK_QUERIES, TOPK_K, DIMS, CLUSTERS = 64, 10, 64, 16
DUP_ID_BASE = 10_000_000
QUERY_ID_BASE = 20_000_000


def make_documents(seed: int) -> list[str]:
    """Word soup with stopwords that passes the Gopher rules; one doc in
    ten is built to fail them (too short, or bullet lines)."""
    rng = np.random.default_rng([seed, _DOCS])
    words = np.array(VOCAB + _STOP * 12)
    docs = []
    for _ in range(N_DOCS):
        kind = rng.random()
        if kind < 0.05:
            docs.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(3, 15)))]))
        elif kind < 0.10:
            docs.append("\n".join("- " + w for w in words[rng.integers(0, len(words), 40)]))
        else:
            docs.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(40, 140)))]))
    return docs


@dataclass(frozen=True)
class DedupBatch:
    doc_ids: list[int]
    texts: list[str]
    planted: list[tuple[int, int]]  # (original doc_id, near-duplicate doc_id)


@dataclass(frozen=True)
class TopkBatch:
    query_ids: list[int]
    vectors: np.ndarray  # float32 (TOPK_QUERIES, DIMS)


def dedup_batch(seed: int, op: int, docs: list[str]) -> DedupBatch:
    """DEDUP_BATCH sampled documents plus DEDUP_PLANTED near-duplicates:
    copies of sampled long documents with one word replaced."""
    rng = np.random.default_rng([seed, _DEDUP, op])
    ids = [int(i) for i in rng.choice(len(docs), DEDUP_BATCH, replace=False)]
    texts = [docs[i] for i in ids]
    long_ids = [i for i in ids if "\n" not in docs[i] and len(docs[i].split()) >= 40]
    planted = []
    for j, src in enumerate(rng.choice(long_ids, DEDUP_PLANTED, replace=False)):
        toks = docs[int(src)].split()
        toks[int(rng.integers(1, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        dup = DUP_ID_BASE + op * 1_000 + j
        ids.append(dup)
        texts.append(" ".join(toks))
        planted.append((int(src), dup))
    return DedupBatch(ids, texts, planted)


def _centers(seed: int) -> np.ndarray:
    c = np.random.default_rng([seed, _TOPK]).normal(size=(CLUSTERS, DIMS))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def write_embeddings(seed: int, path: str) -> list[np.ndarray]:
    """Vectors scattered around CLUSTERS seeded unit centers; returns
    each cluster's mean vector, the IVF centroids."""
    rng = np.random.default_rng([seed, _TOPK, 1])
    labels = rng.integers(0, CLUSTERS, N_VECS)
    vecs = (_centers(seed)[labels] + rng.normal(scale=0.12, size=(N_VECS, DIMS))).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(N_VECS)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }),
        path,
    )
    return [vecs[labels == c].mean(axis=0, dtype=np.float64) for c in range(CLUSTERS)]


def topk_batch(seed: int, op: int) -> TopkBatch:
    rng = np.random.default_rng([seed, _TOPK, 2, op])
    labels = rng.integers(0, CLUSTERS, TOPK_QUERIES)
    vecs = _centers(seed)[labels] + rng.normal(scale=0.12, size=(TOPK_QUERIES, DIMS))
    ids = [QUERY_ID_BASE + op * 1_000 + j for j in range(TOPK_QUERIES)]
    return TopkBatch(ids, vecs.astype(np.float32))


def llm_cycle(cycle: int) -> list[tuple[str, int]]:
    """Three dedup batches then one top-k batch; op numbers are global."""
    return [("dedup", 3 * cycle + j) for j in range(3)] + [("topk", cycle)]


def in_child(fn, *args):
    """``fn(*args)`` for a function of this module, run in a fresh
    Python process: memory the allocator would keep after the
    generator's arrays are freed stays out of this process."""
    done = subprocess.run(
        [sys.executable, "-m", "perfbench.inputs"],
        input=pickle.dumps((fn.__name__, args)), capture_output=True, timeout=300,
    )
    if done.returncode:
        raise RuntimeError(f"{fn.__name__} failed:\n{done.stderr.decode(errors='replace')[-2000:]}")
    return pickle.loads(done.stdout)


if __name__ == "__main__":
    from perfbench import inputs  # so results pickle as perfbench.inputs types

    name, args = pickle.load(sys.stdin.buffer)
    pickle.dump(getattr(inputs, name)(*args), sys.stdout.buffer)
