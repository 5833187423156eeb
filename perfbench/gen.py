"""Seeded input generation for both workloads.

Pure numpy/pyarrow: no Spark here, so the inputs a run hands to the
engine are fixed by ``--seed`` alone and can be checked byte for byte.
The same seed gives the same CSV bytes, vectors and op order; the op
*shapes* (how many fetches per produto, rows per fetch, vectors per
batch) do not depend on the seed, so medians from different seeds
measure the same amount of work.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ingest

#: (produto, named pracas, price level, unidade). Each produto also has
#: one series with a NULL praca (the national indicator), so the NULL-safe
#: primary key is exercised. Series counts are uneven on purpose: the
#: produto partitions a merge rewrites range from ~16k to ~94k rows of a
#: ~297k-row store.
PRODUTOS = (
    ("soja", 17, 130.0, "BRL/sc60kg"),
    ("milho", 13, 60.0, "BRL/sc60kg"),
    ("boi", 9, 250.0, "BRL/@"),
    ("cafe", 6, 1500.0, "BRL/sc60kg"),
    ("algodao", 4, 300.0, "BRL/@"),
    ("trigo", 2, 1200.0, "BRL/t"),
)
PRACAS = (
    "paranaguá", "são paulo", "chapecó", "cascavel", "sorriso",
    "rio verde", "londrina", "maringá", "dourados", "uberlândia",
    "ribeirão preto", "passo fundo", "campo grande", "cuiabá", "goiânia",
    "barreiras", "luís eduardo magalhães", "primavera do leste",
    "lucas do rio verde", "santos", "paranavaí", "ponta grossa",
    "guarapuava", "jataí", "rondonópolis", "sinop", "balsas", "uruçuí",
)
BASE_START = np.datetime64("2005-01-03")
BASE_END = np.datetime64("2025-01-01")  # exclusive
FONTE = "cepea"
METODOLOGIA = "indicador diario"
#: rows per fetch: REVISED business days already in the store (existing
#: keys, new valor; assumed: about a month of a page's history) followed
#: by NEW business days past the series' end (the weekdays of the
#: reference's 10-day freshness window)
REVISED, NEW = 22, 8
#: planted day-over-day spikes per fetch (assumed); each flags two rows
#: in the sanity check (the jump up and the fall back)
SPIKES = 2
#: calendar days before the fetch's last date that its read-back covers:
#: the reference's default query window
READ_DAYS = 365
BASE_COLLECTED = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

STORE_SCHEMA = pa.schema(
    [
        ("produto", pa.string()),
        ("praca", pa.string()),
        ("data", pa.date32()),
        ("fonte", pa.string()),
        ("valor", pa.decimal128(18, 4)),
        ("variacao", pa.float64()),
        ("unidade", pa.string()),
        ("collected_at", pa.timestamp("us", tz="UTC")),
    ]
)


def _decimal4(cents: np.ndarray) -> pa.Array:
    """decimal128(18, 4) array from integer hundredths, without going
    through binary floats (1234.56 must land as exactly 1234.5600)."""
    lo = cents.astype(np.int64) * 100
    words = np.empty(2 * len(lo), dtype=np.int64)
    words[0::2] = lo
    words[1::2] = lo >> 63  # sign extension into the high word
    return pa.Array.from_buffers(
        pa.decimal128(18, 4), len(lo), [None, pa.py_buffer(words.tobytes())]
    )


def business_days(start: np.datetime64, n: int) -> np.ndarray:
    """The first ``n`` business days on or after ``start``."""
    return np.busday_offset(start, np.arange(n), roll="forward")


@dataclasses.dataclass(frozen=True)
class Series:
    produto: str
    praca: str | None
    level: float
    unidade: str


@dataclasses.dataclass
class Fetch:
    """One pt-BR CSV fetch for one (produto, praca) series."""

    seq: int  # 1-based order within its phase (0 is the base)
    series: Series
    dates: np.ndarray  # datetime64[D], ascending
    cents: np.ndarray  # valor in hundredths
    collected_at: dt.datetime
    expected_flags: int  # rows the sanity check flags as excessive change

    @property
    def n_rows(self) -> int:
        return len(self.dates)

    @property
    def read_range(self) -> tuple[dt.date, dt.date]:
        fim = self.dates[-1].astype(dt.date)
        return fim - dt.timedelta(days=READ_DAYS), fim

    def csv_bytes(self) -> bytes:
        """The fetch as the source publishes it: ``;``-separated,
        decimal comma with ``.`` thousands, dd/mm/yyyy dates, Latin-1."""
        praca = self.series.praca or ""
        lines = ["data;praca;valor;unidade;metodologia"]
        for d, c in zip(self.dates.astype(dt.date), self.cents):
            reais, cent = divmod(int(c), 100)
            valor = f"{reais:,}".replace(",", ".") + f",{cent:02d}"
            lines.append(
                f"{d:%d/%m/%Y};{praca};{valor};{self.series.unidade};{METODOLOGIA}"
            )
        return ("\n".join(lines) + "\n").encode("iso-8859-1")

    def rows(self) -> pa.Table:
        """The typed rows the fetch should commit (the reference side)."""
        n = self.n_rows
        return pa.table(
            [
                pa.array([self.series.produto] * n),
                pa.array([self.series.praca] * n, pa.string()),
                pa.array(self.dates, pa.date32()),
                pa.array([FONTE] * n),
                _decimal4(self.cents),
                pa.nulls(n, pa.float64()),
                pa.array([self.series.unidade] * n),
                pa.array([self.collected_at] * n, STORE_SCHEMA.field("collected_at").type),
            ],
            schema=STORE_SCHEMA,
        )


@dataclasses.dataclass
class IngestPlan:
    base: pa.Table
    warm: list[Fetch]
    timed: list[Fetch]


def _series(rng: np.random.Generator) -> list[Series]:
    out = []
    for produto, n_pracas, level, unidade in PRODUTOS:
        for praca in (None, *PRACAS[:n_pracas]):
            out.append(
                Series(produto, praca, level * rng.uniform(0.9, 1.1), unidade)
            )
    return out


def _prices(rng: np.random.Generator, level: float, n: int) -> np.ndarray:
    """Daily prices in hundredths: ±2 % noise around the series level,
    so an ordinary day-over-day change stays under 4.1 % — well inside
    every produto's sanity limit."""
    return np.round(level * rng.uniform(0.98, 1.02, n) * 100).astype(np.int64)


def _base_table(rng: np.random.Generator, series: list[Series]) -> pa.Table:
    days = np.arange(BASE_START, BASE_END, dtype="datetime64[D]")
    days = days[np.is_busday(days)]
    n = len(days)
    cents = np.concatenate([_prices(rng, s.level, n) for s in series])
    prev = np.concatenate(([0], cents[:-1]))
    var = np.round((cents / np.where(prev == 0, 1, prev) - 1.0) * 100.0, 2)
    first = np.zeros(len(cents), dtype=bool)
    first[::n] = True  # a series' first day has no previous price
    rows = len(series) * n
    return pa.table(
        [
            pa.array(np.repeat([s.produto for s in series], n)),
            pa.array(np.repeat(np.array([s.praca for s in series], object), n), pa.string()),
            pa.array(np.tile(days, len(series)), pa.date32()),
            pa.array(np.full(rows, FONTE)),
            _decimal4(cents),
            pa.array(var, pa.float64(), mask=first),
            pa.array(np.repeat([s.unidade for s in series], n)),
            pa.array(np.full(rows, BASE_COLLECTED), STORE_SCHEMA.field("collected_at").type),
        ],
        schema=STORE_SCHEMA,
    )


def _fetches(
    rng: np.random.Generator, series: list[Series], schedule: list[str], phase_offset: int
) -> list[Fetch]:
    """One fetch per produto in ``schedule``. Each fetch revises a
    series' last REVISED days and extends it by NEW days; a series
    fetched twice keeps extending from its own end."""
    last_day = np.busday_offset(BASE_END, -1, roll="backward")
    ends: dict[Series, np.datetime64] = {}
    out = []
    for seq, produto in enumerate(schedule, start=1):
        choices = [s for s in series if s.produto == produto]
        s = choices[rng.integers(len(choices))]
        end = ends.get(s, last_day)
        first = np.busday_offset(end, -(REVISED - 1), roll="backward")
        dates = business_days(first, REVISED + NEW)
        ends[s] = dates[-1]
        cents = _prices(rng, s.level, len(dates))
        # spikes at interior positions at least 3 apart, so each one
        # flags exactly two rows (up, then back down)
        spots = np.sort(rng.choice(np.arange(2, len(dates) - 2, 3), SPIKES, replace=False))
        cents[spots] = np.round(cents[spots] * 1.30).astype(np.int64)
        out.append(
            Fetch(
                seq=seq,
                series=s,
                dates=dates,
                cents=cents,
                collected_at=BASE_COLLECTED + dt.timedelta(days=1, seconds=phase_offset + seq),
                expected_flags=2 * SPIKES,
            )
        )
    return out


def ingest_plan(seed: int, n_warm: int, n_timed: int) -> IngestPlan:
    """Base store rows plus the warm-up and timed fetch sequences. The
    timed fetches are balanced over the produtos (each gets n/6, the
    remainder going to the largest produtos) in seeded order. Warm-up
    fetches all hit the smallest produto, the cheapest op of the same
    shape; they go to a second store, so the timed phase starts from the
    base."""
    rng = np.random.default_rng([seed, 1])
    series = _series(rng)
    base = _base_table(rng, series)
    produtos = [p[0] for p in PRODUTOS]
    warm = _fetches(rng, series, [produtos[-1]] * n_warm, phase_offset=100_000)
    schedule = [produtos[i % len(produtos)] for i in range(n_timed)]
    timed = _fetches(rng, series, [schedule[i] for i in rng.permutation(n_timed)], phase_offset=0)
    return IngestPlan(base, warm, timed)


def write_ingest_inputs(plan: IngestPlan, out_dir: str) -> dict:
    """Write the base parquet and one CSV per fetch; returns the paths."""
    os.makedirs(out_dir, exist_ok=True)
    base = os.path.join(out_dir, "base.parquet")
    pq.write_table(plan.base, base)
    paths = {"base": base, "warm": [], "timed": []}
    for phase in ("warm", "timed"):
        for f in getattr(plan, phase):
            p = os.path.join(out_dir, f"{phase}_{f.seq:03d}.csv")
            with open(p, "wb") as fh:
                fh.write(f.csv_bytes())
            paths[phase].append(p)
    return paths


# ----------------------------------------------------------------- graph

GRAPH_K = 5  # neighbours kept per node
GRAPH_PROBE = 2  # clusters probed per node
DIM = 64
N_CORPUS = 2000
N_CLUSTERS = 200  # tight generating clusters
N_CENTROIDS = 200  # frozen IVF centroids the store is built with
BATCH = 20  # vectors folded per epoch: touched_frac ~ BATCH*PROBE/CENTROIDS
SPREAD = 0.15  # per-dimension noise around a cluster centre

VEC_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))]
)


@dataclasses.dataclass
class GraphPlan:
    corpus: pa.Table
    warm: list[pa.Table]
    timed: list[pa.Table]


def _vectors(rng: np.random.Generator, centres: np.ndarray, ids: np.ndarray) -> pa.Table:
    c = centres[rng.integers(len(centres), size=len(ids))]
    x = c + SPREAD * rng.standard_normal(c.shape)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table([pa.array(ids, pa.int64()), emb], schema=VEC_SCHEMA)


def graph_plan(seed: int, n_warm: int, n_timed: int) -> GraphPlan:
    """Corpus and batches drawn from one set of seeded clusters. Ids are
    disjoint: corpus, then timed batches, then warm-up batches (which
    fold into a copy of the built graph)."""
    rng = np.random.default_rng([seed, 2])
    centres = rng.standard_normal((N_CLUSTERS, DIM))
    corpus = _vectors(rng, centres, np.arange(N_CORPUS))
    nxt = N_CORPUS
    timed = []
    for _ in range(n_timed):
        timed.append(_vectors(rng, centres, np.arange(nxt, nxt + BATCH)))
        nxt += BATCH
    warm = []
    for _ in range(n_warm):
        warm.append(_vectors(rng, centres, np.arange(nxt, nxt + BATCH)))
        nxt += BATCH
    return GraphPlan(corpus, warm, timed)


def write_graph_inputs(plan: GraphPlan, out_dir: str) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    paths = {"corpus": os.path.join(out_dir, "corpus.parquet"), "warm": [], "timed": []}
    pq.write_table(plan.corpus, paths["corpus"])
    for phase in ("warm", "timed"):
        for i, t in enumerate(getattr(plan, phase)):
            p = os.path.join(out_dir, f"{phase}_{i:03d}.parquet")
            pq.write_table(t, p)
            paths[phase].append(p)
    return paths


# --------------------------------------------------------------- catalog

#: catalog tables each workload's query pass reads, in the layout of
#: ``agrobr_spark.io`` (one parquet file per table). Sizes follow the
#: catalog's sf0.01 fixture; the schemas are the fixture's.
CATALOG_TABLES = {
    "ingest_upsert": ("customer", "orders", "lineitem"),
    "graph_fold": ("embeddings", "documents"),
}
N_CUSTOMER, N_ORDERS, N_LINEITEM = 1_500, 15_000, 60_000
N_EMBEDDINGS, N_LABELS = 500, 10
N_DOCUMENTS = 500
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
#: document vocabulary; holds the catalog's BM25 query terms
VOCAB = (
    "merge vector customer batch part spark line column order small sort"
    " fast value scan hash slow group agg filter query big key window row"
    " table stream data a join index shard cache plan node graph rank"
    " price crop field harvest"
).split()
LANGS = ("en", "pt", "es", "zh")
TS_US = pa.timestamp("us")


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    span = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
    return (np.datetime64(lo) + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_tables(seed: int, workload: str) -> dict[str, pa.Table]:
    """The seeded tables of one workload's query pass."""
    rng = np.random.default_rng([seed, 3])
    out: dict[str, pa.Table] = {}
    if workload == "ingest_upsert":
        ck = np.arange(N_CUSTOMER, dtype=np.int64)
        out["customer"] = pa.table({
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), N_CUSTOMER)],
        })
        ok = np.arange(N_ORDERS, dtype=np.int64)
        out["orders"] = pa.table({
            "o_orderkey": ok,
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", N_ORDERS), TS_US),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, len(PRIORITIES), N_ORDERS)],
        })
        n = N_LINEITEM
        qty = rng.integers(1, 51, n).astype(np.float64)
        out["lineitem"] = pa.table({
            "l_orderkey": rng.integers(0, N_ORDERS, n),
            "l_partkey": rng.integers(0, 2000, n),
            "l_suppkey": rng.integers(0, 100, n),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-11-04", n), TS_US),
        })
    elif workload == "graph_fold":
        centres = rng.standard_normal((N_LABELS, DIM))
        label = rng.integers(0, N_LABELS, N_EMBEDDINGS)
        x = centres[label] + 0.8 * rng.standard_normal((N_EMBEDDINGS, DIM))
        emb = pa.FixedSizeListArray.from_arrays(pa.array(x.astype(np.float32).ravel()), DIM)
        out["embeddings"] = pa.table({
            "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        })
        words = np.array(VOCAB)
        text = [
            " ".join(words[rng.integers(0, len(words), rng.integers(10, 60))])
            for _ in range(N_DOCUMENTS)
        ]
        out["documents"] = pa.table({
            "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
            "text": text,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCUMENTS)],
            "source": [f"src{i}" for i in rng.integers(0, 20, N_DOCUMENTS)],
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        })
    return out


def write_catalog(tables: dict[str, pa.Table], out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
