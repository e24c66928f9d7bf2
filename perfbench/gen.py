"""Seeded workload generators owned by the benchmark.

Nothing here imports the package under test: a program change cannot alter
the inputs. Every generator is a pure function of its seed, and each one
also computes the expected result the benchmark checks the engine against.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CITIES = (
    "amsterdam", "boston", "los angeles", "new york", "paris",
    "rome", "san francisco", "seattle", "washington dc",
)
EPOCH = datetime(2022, 12, 12, tzinfo=timezone.utc)
_EPOCH_NS = int(EPOCH.timestamp()) * 1_000_000_000
_DAY_NS = 86_400 * 1_000_000_000


def date_dir(day: int) -> str:
    return (EPOCH + timedelta(days=day)).strftime("%Y-%m-%d")


def envelope(after: dict | None, key: list, updated_ns: int) -> str:
    """One CockroachDB changefeed line (``WITH updated``): full post-image
    under ``after`` (null for a DELETE), primary key array, MVCC time as a
    decimal-nanosecond string."""
    return json.dumps(
        {"after": after, "key": key, "updated": f"{updated_ns}.0000000000"},
        separators=(",", ":"),
    )


def write_files(root: str, files: list[tuple[str, list[str]]]) -> int:
    """Write ``(relpath, lines)`` pairs under ``root``; returns bytes written.
    Each file appears under its final name only once complete, so a
    listing never sees a partial file."""
    total = 0
    for rel, lines in files:
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        data = ("\n".join(lines) + "\n").encode()
        tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, path)
        total += len(data)
    return total


# -- movr rides changefeed ----------------------------------------------------


@dataclass
class Flush:
    files: list[tuple[str, list[str]]]
    n_events: int
    number: int = 0


#: the changefeed traffic shape (perfbench/NOTES.md, "Traffic shape"). From
#: the repository's own changefeed model, ``sources/changegen.py``: 0.10
#: updates and 0.05 deletes per insert, 2% duplicate re-emissions, 5% late.
MIX = (0.10 / 1.15, 1.00 / 1.15, 0.05 / 1.15)  # update, insert, delete shares
DUP_FRAC = 0.02
LATE_FRAC = 0.05
#: assumptions with no source: 80% of updates go to a hot set of 200 keys
#: (key skew, with no measured figure to follow), two files per flush and
#: eight flushes per date directory
HOT_KEYS = 200
HOT_SHARE = 0.8
FILES_PER_FLUSH = 2


@dataclass
class RidesFeed:
    """A movr ``rides``-shaped changefeed (``city, id, rider_id, revenue``,
    keyed ``[city, id]``): an initial scan, then small flushes of inserts,
    updates skewed toward a hot key set, and tombstones, with exact
    duplicate re-emissions and files held back one flush (late files whose
    events are older than ones already landed). ``landed`` tracks the newest
    event landed per key, i.e. the expected latest state."""

    seed: int
    initial_keys: int
    flush_events: int
    flushes_per_day: int = 8
    mix: tuple[float, float, float] = MIX
    hot_share: float = HOT_SHARE
    rng: random.Random = field(init=False)
    landed: dict = field(init=False, default_factory=dict)
    city: dict = field(init=False, default_factory=dict)  # id -> city, for keys

    def __post_init__(self):
        self.rng = random.Random(self.seed)
        self._clock = _EPOCH_NS
        self._next_id = 0
        self._live: list[str] = []  # ids with a live (generated) image
        self._pos: dict[str, int] = {}
        self._rows: dict[str, dict] = {}
        self._hot: list[str] = []
        self._held: tuple[list, list[str]] | None = None  # (events, lines)
        self._flush_no = 0

    def _tick(self) -> int:
        self._clock += self.rng.randrange(1_000, 5_000_000)
        return self._clock

    def _insert(self) -> tuple[int, dict, list]:
        rid = f"{self.seed & 0xffff:04x}-{self._next_id:08d}"
        self._next_id += 1
        row = {
            "city": self.rng.choice(CITIES),
            "id": rid,
            "rider_id": f"r-{self.rng.randrange(100_000):06d}",
            "revenue": round(self.rng.uniform(5.0, 120.0), 2),
        }
        self._pos[rid] = len(self._live)
        self._live.append(rid)
        self._rows[rid] = row
        self.city[rid] = row["city"]
        return self._tick(), row, [row["city"], rid]

    def _any(self) -> str:
        return self._live[self.rng.randrange(len(self._live))]

    def _update(self) -> tuple[int, dict, list]:
        rid = None
        if self._hot and self.rng.random() < self.hot_share:
            rid = self.rng.choice(self._hot)
        if rid not in self._pos:
            rid = self._any()
        row = dict(self._rows[rid], revenue=round(self.rng.uniform(5.0, 120.0), 2))
        self._rows[rid] = row
        return self._tick(), row, [row["city"], rid]

    def _delete(self) -> tuple[int, None, list]:
        rid = self._any()
        i = self._pos.pop(rid)
        last = self._live.pop()
        if last != rid:
            self._live[i] = last
            self._pos[last] = i
        row = self._rows.pop(rid)
        return self._tick(), None, [row["city"], rid]

    def _with_dups(self, events: list) -> list:
        n = max(1, round(len(events) * DUP_FRAC))
        out = events + self.rng.sample(events, n)
        self.rng.shuffle(out)
        return out

    def _land(self, events: list) -> None:
        for ts, row, key in events:
            cur = self.landed.get(key[1])
            if cur is None or ts > cur[0]:
                self.landed[key[1]] = (ts, row)

    def initial_scan(self, lines_per_file: int = 2000) -> Flush:
        events = self._with_dups([self._insert() for _ in range(self.initial_keys)])
        self._hot = self.rng.sample(self._live, min(HOT_KEYS, len(self._live)))
        self._land(events)
        lines = [envelope(r, k, ts) for ts, r, k in events]
        files = [
            (f"{date_dir(0)}/scan-{i // lines_per_file:05d}.ndjson",
             lines[i : i + lines_per_file])
            for i in range(0, len(lines), lines_per_file)
        ]
        return Flush(files, len(events))

    def next_flush(self) -> Flush:
        """The files of the next flush. A late file is held back and lands
        with the following flush; at most one file per flush is held, so no
        flush is empty."""
        self._flush_no += 1
        events = []
        upd, ins, _dele = self.mix
        for _ in range(self.flush_events):
            u = self.rng.random()
            if u < upd and self._live:
                events.append(self._update())
            elif u < upd + ins or len(self._live) < 2 * HOT_KEYS:
                events.append(self._insert())
            else:
                events.append(self._delete())
        events = self._with_dups(events)
        day = date_dir(1 + self._flush_no // self.flushes_per_day)
        chunk = -(-len(events) // FILES_PER_FLUSH)
        parts = [events[i : i + chunk] for i in range(0, len(events), chunk)]
        files, landing = [], []
        if self._held is not None:
            held_events, held_lines = self._held
            files.append((f"{day}/late-{self._flush_no:05d}.ndjson", held_lines))
            landing += held_events
            self._held = None
        for j, part in enumerate(parts):
            lines = [envelope(r, k, ts) for ts, r, k in part]
            if j == 0 and len(parts) > 1 and self.rng.random() < LATE_FRAC * len(parts):
                self._held = (part, lines)
                continue
            files.append((f"{day}/flush-{self._flush_no:05d}-{j}.ndjson", lines))
            landing += part
        self._land(landing)
        return Flush(files, sum(len(lines) for _, lines in files), self._flush_no)

    def expected_live(self) -> dict[str, dict]:
        return {rid: row for rid, (_ts, row) in self.landed.items() if row is not None}


def city_revenue(live: dict[str, dict]) -> dict[str, tuple[int, float]]:
    out: dict[str, list] = {}
    for row in live.values():
        acc = out.setdefault(row["city"], [0, 0.0])
        acc[0] += 1
        acc[1] += row["revenue"]
    return {c: (n, s) for c, (n, s) in out.items()}


# -- TPC-H-shaped star schema -------------------------------------------------


def _strings(prefix: str, ids: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in ids.tolist()])


def write_star(out_dir: str, seed: int, sf: float) -> None:
    """The star schema the engine's ``sql`` surface registers (one parquet
    per table: region nation customer supplier part orders lineitem events
    documents embeddings), shaped like the TPC-H subset the package reads."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    put("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": pa.array(regions)})
    put("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
                   "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    put("customer", {
        "c_custkey": pa.array(ck), "c_name": _strings("Customer", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    put("supplier", {
        "s_suppkey": pa.array(sk), "s_name": _strings("Supplier", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(n_supp, -999.99, 9999.99)),
    })
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    put("part", {
        "p_partkey": pa.array(pk), "p_name": _strings("Part", pk),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in
                             rng.integers(1, 6, (n_part, 2)).tolist()]),
        "p_type": pa.array(rng.choice(["STANDARD BRUSHED TIN", "SMALL PLATED COPPER",
                                       "PROMO BURNISHED NICKEL", "ECONOMY ANODIZED STEEL",
                                       "LARGE POLISHED BRASS"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(money(n_part, 900.0, 2100.0)),
    })
    ok = np.arange(1, n_ord + 1, dtype=np.int64) * 4
    day0 = np.datetime64("1992-01-01", "us")
    odate = day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    put("orders", {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(money(n_ord, 800.0, 500_000.0)),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)),
    })
    per = rng.integers(1, 8, n_ord)
    n_li = int(per.sum())
    l_ok = np.repeat(ok, per)
    l_ln = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put("lineitem", {
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(l_ln),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(np.repeat(odate, per)
                               + rng.integers(1, 122, n_li).astype("timedelta64[D]")),
    })
    n_ev = int(1_000_000 * sf)
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + rng.integers(0, 86_400 * 30, n_ev).astype("timedelta64[s]")),
        "user_id": pa.array(rng.integers(0, 5000, n_ev, dtype=np.int64)),
        "event_type": pa.array(rng.choice(["click", "view", "buy"], n_ev)),
        "value": pa.array(money(n_ev, 0.0, 100.0)),
        "props": pa.array(["{}"] * n_ev),
    })
    docs = Corpus(seed, n_docs=int(50_000 * sf), n_vecs=int(20_000 * sf))
    put("documents", {"doc_id": pa.array(np.arange(docs.n_docs, dtype=np.int64)),
                      "text": pa.array([docs.text(i, 0) for i in range(docs.n_docs)])})
    put("embeddings", {
        "vec_id": pa.array(np.arange(docs.n_vecs, dtype=np.int64)),
        "embedding": pa.array([docs.vector(i, 0).tolist() for i in range(docs.n_vecs)],
                              type=pa.list_(pa.float32())),
    })


# -- LLM corpus: documents + embeddings changefeeds ---------------------------

VOCAB = (
    "a the data lake spark stream batch merge key value table row column scan "
    "filter join sort hash group agg window query order customer part line "
    "vector index token search rank fast slow small big commit snapshot"
).split()


@dataclass
class Corpus:
    """Seeded documents (doc_id, text) and embeddings (vec_id, 64-d) with a
    version counter per key: version v of a key is a pure function of
    (seed, key, v), so expected state is recomputable from versions alone."""

    seed: int
    n_docs: int
    n_vecs: int
    dim: int = 64

    def text(self, doc_id: int, version: int) -> str:
        r = random.Random((self.seed * 1_000_003 + doc_id) * 131 + version)
        return " ".join(r.choice(VOCAB) for _ in range(r.randrange(12, 60)))

    def vector(self, vec_id: int, version: int) -> np.ndarray:
        g = np.random.default_rng([self.seed, vec_id, version])
        return g.standard_normal(self.dim, dtype=np.float32)


@dataclass
class LlmFeed:
    """Changefeed drops of the two LLM modalities. Drop 0 is the corpus;
    each later drop carries seeded updates, tombstones and inserts for both.
    ``updated`` strictly increases per key across drops (the
    ``materialize_silver_tx`` ordering contract): drop ``d`` stamps every
    event with the drop's own time."""

    corpus: Corpus
    update_rows: int
    delete_rows: int
    insert_rows: int
    docs: dict = field(init=False, default_factory=dict)  # doc_id -> version
    vecs: dict = field(init=False, default_factory=dict)  # vec_id -> version
    drop_no: int = field(init=False, default=0)

    def __post_init__(self):
        self.rng = random.Random(self.corpus.seed ^ 0x5EED)
        self._next_doc = self.corpus.n_docs
        self._next_vec = self.corpus.n_vecs

    def _ts(self) -> int:
        return _EPOCH_NS + self.drop_no * _DAY_NS

    def _doc_line(self, i: int, ts: int, v: int | None) -> str:
        after = None if v is None else {"doc_id": i, "text": self.corpus.text(i, v)}
        return envelope(after, [str(i)], ts)

    def embedding(self, i: int, version: int) -> list[float]:
        """The embedding image of version ``version`` of key ``i``, as landed."""
        return [round(float(x), 6) for x in self.corpus.vector(i, version)]

    def _vec_lines(self, ids: list[int], ts: int, vers: list[int] | None) -> list[str]:
        if vers is None:
            return [envelope(None, [str(i)], ts) for i in ids]
        return [
            envelope({"vec_id": i, "embedding": self.embedding(i, v)}, [str(i)], ts)
            for i, v in zip(ids, vers)
        ]

    def corpus_drop(self, lines_per_file: int = 2500) -> tuple[list, list]:
        ts = self._ts()
        self.docs = {i: 0 for i in range(self.corpus.n_docs)}
        self.vecs = {i: 0 for i in range(self.corpus.n_vecs)}
        d = [self._doc_line(i, ts, 0) for i in self.docs]
        e = self._vec_lines(list(self.vecs), ts, list(self.vecs.values()))
        day = date_dir(0)
        split = lambda name, ls: [  # noqa: E731
            (f"{day}/{name}-{i // lines_per_file:04d}.ndjson", ls[i : i + lines_per_file])
            for i in range(0, len(ls), lines_per_file)
        ]
        return split("docs", d), split("embs", e)

    def next_drop(self) -> tuple[list, list]:
        """One drop: (doc files, embedding files)."""
        self.drop_no += 1
        ts = self._ts()
        day = date_dir(self.drop_no)

        def mutate(state: dict, next_id: int) -> tuple[list, list, list, int]:
            keys = sorted(state)
            upd = self.rng.sample(keys, self.update_rows)
            rest = sorted(set(keys) - set(upd))
            dele = self.rng.sample(rest, self.delete_rows)
            ins = list(range(next_id, next_id + self.insert_rows))
            for k in upd:
                state[k] += 1
            for k in dele:
                del state[k]
            for k in ins:
                state[k] = self.drop_no
            return upd, dele, ins, next_id + self.insert_rows

        du, dd, di, self._next_doc = mutate(self.docs, self._next_doc)
        doc_lines = (
            [self._doc_line(i, ts, self.docs[i]) for i in du + di]
            + [self._doc_line(i, ts, None) for i in dd]
        )
        vu, vd, vi, self._next_vec = mutate(self.vecs, self._next_vec)
        vec_lines = (
            self._vec_lines(vu + vi, ts, [self.vecs[i] for i in vu + vi])
            + self._vec_lines(vd, ts, None)
        )
        return (
            [(f"{day}/docs-{self.drop_no:04d}.ndjson", doc_lines)],
            [(f"{day}/embs-{self.drop_no:04d}.ndjson", vec_lines)],
        )
