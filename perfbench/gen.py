"""Seeded input generators for the benchmark.

Two families, both deterministic for a seed:

- ``write_fixture_tables``: the ten parquet tables the query registry
  reads (TPC-H-shaped star schema plus events, documents and
  embeddings), in the column layout and value vocabulary of the
  repository's fixtures (FIXTURES.md, part B). Row counts follow the
  fixture scale factor: ``lineitem`` has 6M x sf rows.
- ``HarvestGenerator``: the five IVPK source tables of the harvester
  (FIXTURES.md, part A) and a stream of sync cycles. Each cycle creates,
  retitles and unpublishes a known set of datasets, and the generator
  keeps its own ground truth: the counts of each kind, the set of active
  datasets and the expected catalog fields of every changed document.

Only numpy and pyarrow are used here, so inputs are made without Spark.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_NATIONS = 25
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("red", "small", "hot", "cold", "old", "new", "large", "blue")
_PART_NOUN = ("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")
_PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
_EMBED_DIM = 64

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def table_rows(sf: float) -> dict[str, int]:
    """Row count per fixture table at scale factor ``sf``."""
    return {
        "region": len(_REGIONS),
        "nation": _NATIONS,
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Build the ten fixture tables in memory."""
    rng = np.random.default_rng([seed, 1])
    n = table_rows(sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(len(_REGIONS)), i32),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(_NATIONS), i32),
        "n_name": [f"NATION_{i}" for i in range(_NATIONS)],
        "n_regionkey": pa.array([i % len(_REGIONS) for i in range(_NATIONS)], i32),
    })
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, _NATIONS, nc), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, len(_SEGMENTS), nc)],
    })
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, _NATIONS, ns), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    adj = np.array(_PART_ADJ)[rng.integers(0, len(_PART_ADJ), npart)]
    noun = np.array(_PART_NOUN)[rng.integers(0, len(_PART_NOUN), npart)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(_PART_TYPES)[rng.integers(0, len(_PART_TYPES), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": pa.array(_EPOCH_1995 + odays * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, len(_PRIORITIES), no)],
    })
    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder, i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(
            _EPOCH_1995 + (odays[lorder] + rng.integers(1, 122, nl)) * _DAY_US,
            pa.timestamp("us"),
        ),
    })
    ne = n["events"]
    ts_us = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(_EPOCH_2024 + ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(2, ne * 3 // 200), ne), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, len(_EVENT_TYPES), ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker word
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(_DOC_WORDS)[rng.integers(0, len(_DOC_WORDS), k)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(len(_LANGS), nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    nv = n["embeddings"]
    vec = rng.standard_normal((nv, _EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return t


def write_fixture_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<table>.parquet`` for all ten tables; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, tbl in fixture_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


# ---------------------------------------------------------------------------
# IVPK harvest sources and sync cycles
# ---------------------------------------------------------------------------

_FIRST = ("Jonas", "Tomas", "Rūta", "Aistė", "Žilvinas", "Gintarė", "Šarūnas", "Eglė")
_LAST = ("Jonaitis", "Tomauskas", "Kazlauskienė", "Petrauskas", "Žukauskas", "Šimkus")
_TITLE_WORDS = (
    "šilumos", "tiekimo", "licencijų", "sąrašas", "įmonių", "eismo", "intensyvumas",
    "kelių", "duomenys", "radiacinės", "saugos", "savivaldybių", "biudžeto",
    "gyventojų", "registras", "mokyklų", "vandens", "kokybė", "oro", "taršos",
)
_KEYWORDS = (
    "šiluma", "šilumos tiekėjai", "licencijos", "keliai", "eismo intensyvumas",
    "biudžetas", "gyventojai", "švietimas", "vanduo", "oro tarša", "energetika",
    "transportas", "sveikata", "statistika", "žemėlapiai", "aplinka",
)
# packed tokens the tag pipeline drops (length < 2 after normalisation)
_REJECTED_KEYWORDS = ('"e"', "x", " - ")


@dataclass
class DatasetRow:
    """One ``t_rinkmena`` row, restricted to the columns the harvester reads."""

    ID: int
    KODAS: str
    PAVADINIMAS: str
    SANTRAUKA: str
    R_ZODZIAI: str
    K_EMAIL: str
    TINKLAPIS: str
    STATUSAS: str
    USER_ID: int
    istaiga_id: int
    n_tags: int = field(default=0, compare=False)


@dataclass
class Cycle:
    """Ground truth for one sync cycle."""

    number: int
    creates: set[int]
    updates: set[int]
    deletes: set[int]
    active: set[int]
    expected: dict[str, dict]  # catalog id -> expected fields of a changed row

    def counts(self) -> dict[str, int]:
        return {
            "create": len(self.creates),
            "update": len(self.updates),
            "delete": len(self.deletes),
        }


_RINKMENA_SCHEMA = pa.schema([
    ("ID", pa.int32()), ("KODAS", pa.string()), ("PAVADINIMAS", pa.string()),
    ("SANTRAUKA", pa.string()), ("R_ZODZIAI", pa.string()), ("K_EMAIL", pa.string()),
    ("TINKLAPIS", pa.string()), ("STATUSAS", pa.string()), ("USER_ID", pa.int32()),
    ("istaiga_id", pa.int32()),
])


class HarvestGenerator:
    """Seeded IVPK source tables plus a deterministic stream of cycles.

    ``n_datasets`` datasets start out, 95% published (``STATUSAS='U'``).
    Every cycle then creates ``create_share``, retitles ``update_share``
    and unpublishes (``'U'``->``'P'``) ``delete_share`` of that count,
    over disjoint sets of datasets. About 5% of datasets point at a user
    or an organisation that does not exist.
    """

    def __init__(
        self,
        seed: int,
        n_datasets: int = 4000,
        create_share: float = 0.01,
        update_share: float = 0.02,
        delete_share: float = 0.01,
    ):
        self.rng = np.random.default_rng([seed, 2])
        self.n_users = max(2, n_datasets // 40)
        self.n_orgs = max(2, n_datasets // 100)
        self.k_create = max(1, round(n_datasets * create_share))
        self.k_update = max(1, round(n_datasets * update_share))
        self.k_delete = max(1, round(n_datasets * delete_share))
        self.users = self._users()
        self.orgs = self._orgs()
        self.categories = self._categories()
        self.rows: dict[int, DatasetRow] = {}
        self.bridge: list[tuple[int, int]] = []  # (KATEGORIJA_ID, RINKMENA_ID)
        self.groups_of: dict[int, int] = {}  # dataset -> distinct category count
        self.cycle = 0
        for i in range(1, n_datasets + 1):
            self._add_dataset(i, "U" if self.rng.random() < 0.95 else "P")

    # -- dimensions ---------------------------------------------------------

    def _users(self) -> dict[int, tuple]:
        r = self.rng
        return {
            i: (
                f"vartotojas{i}",
                "secret123",
                f"vartotojas{i}@example.lt",
                _FIRST[int(r.integers(0, len(_FIRST)))],
                _LAST[int(r.integers(0, len(_LAST)))],
            )
            for i in range(1, self.n_users + 1)
        }

    def _orgs(self) -> dict[int, tuple]:
        return {
            i: (f"Įstaiga nr. {i}", str(100_000 + i), f"Gedimino pr. {i}, Vilnius")
            for i in range(1, self.n_orgs + 1)
        }

    def _categories(self) -> list[tuple[int, str, int, int]]:
        """(ID, PAVADINIMAS, KATEGORIJA_ID, LYGIS): a three-level tree."""
        cats, next_id = [], 1
        for root in range(6):
            rid = next_id
            cats.append((rid, f"Sritis {root + 1}", 0, 1))
            next_id += 1
            for child in range(3):
                cid = next_id
                cats.append((cid, f"Tema {root + 1}.{child + 1}", rid, 2))
                next_id += 1
                for leaf in range(3):
                    cats.append(
                        (next_id, f"Potemė {root + 1}.{child + 1}.{leaf + 1}", cid, 3)
                    )
                    next_id += 1
        return cats

    # -- datasets -----------------------------------------------------------

    def _title(self, i: int) -> str:
        r = self.rng
        words = np.array(_TITLE_WORDS)[r.integers(0, len(_TITLE_WORDS), int(r.integers(3, 8)))]
        return f"{' '.join(words).capitalize()} nr. {i}"

    def _keywords(self) -> tuple[str, int]:
        r = self.rng
        kept = list(np.array(_KEYWORDS)[r.integers(0, len(_KEYWORDS), int(r.integers(0, 6)))])
        kept = [k.capitalize() if r.random() < 0.3 else k for k in kept]
        packed = kept + ([_REJECTED_KEYWORDS[int(r.integers(0, 3))]] if r.random() < 0.2 else [])
        r.shuffle(packed)
        return ",".join(packed), len(kept)

    def _add_dataset(self, i: int, status: str) -> None:
        r = self.rng
        # ~5% of datasets point at a user or organisation that is missing
        user = int(r.integers(1, self.n_users + 1)) if r.random() > 0.05 else self.n_users + 1000 + i
        org = int(r.integers(1, self.n_orgs + 1)) if r.random() > 0.05 else self.n_orgs + 1000 + i
        packed, n_tags = self._keywords()
        self.rows[i] = DatasetRow(
            ID=i,
            KODAS=f"kodas-{i}",
            PAVADINIMAS=self._title(i),
            SANTRAUKA=f"Rinkinio {i} santrauka",
            R_ZODZIAI=packed,
            K_EMAIL=f"rinkinys{i}@example.lt",
            TINKLAPIS=f"https://data.example.lt/rinkinys/{i}",
            STATUSAS=status,
            USER_ID=user,
            istaiga_id=org,
            n_tags=n_tags,
        )
        cats = [int(c) for c in r.integers(1, len(self.categories) + 1, int(r.integers(0, 4)))]
        self.bridge.extend((c, i) for c in cats)
        self.groups_of[i] = len(set(cats))

    def active(self) -> set[int]:
        return {i for i, row in self.rows.items() if row.STATUSAS == "U"}

    def expected_doc(self, i: int) -> dict:
        """The catalog fields the harvester must produce for dataset ``i``."""
        row = self.rows[i]
        user = self.users.get(row.USER_ID)
        return {
            "title": row.PAVADINIMAS,
            "url": row.TINKLAPIS,
            "maintainer": f"{user[3]} {user[4]}" if user else "Unknown User",
            "maintainer_email": row.K_EMAIL,
            "n_tags": row.n_tags,
            "n_groups": self.groups_of[i],
        }

    def next_cycle(self) -> Cycle:
        """Advance the source by one cycle and return its ground truth."""
        r = self.rng
        self.cycle += 1
        active = sorted(self.active())
        picked = r.choice(len(active), self.k_update + self.k_delete, replace=False)
        updates = {active[int(p)] for p in picked[: self.k_update]}
        deletes = {active[int(p)] for p in picked[self.k_update:]}
        for i in sorted(updates):
            self.rows[i].PAVADINIMAS = self._title(i) + f" (v{self.cycle})"
        for i in deletes:
            self.rows[i].STATUSAS = "P"
        first = max(self.rows) + 1
        creates = set(range(first, first + self.k_create))
        for i in sorted(creates):
            self._add_dataset(i, "U")
        changed = creates | updates
        return Cycle(
            number=self.cycle,
            creates=creates,
            updates=updates,
            deletes=deletes,
            active=self.active(),
            expected={str(i): self.expected_doc(i) for i in changed},
        )

    # -- tables -------------------------------------------------------------

    def source_tables(self) -> dict[str, pa.Table]:
        """The five source tables as they stand at the current cycle."""
        rows = [self.rows[i] for i in sorted(self.rows)]
        rinkmena = pa.table(
            {f.name: [getattr(x, f.name) for x in rows] for f in _RINKMENA_SCHEMA},
            schema=_RINKMENA_SCHEMA,
        )
        users = sorted(self.users.items())
        orgs = sorted(self.orgs.items())
        return {
            "user": pa.table({
                "ID": pa.array([u[0] for u in users], pa.int32()),
                "LOGIN": [u[1][0] for u in users],
                "PASS": [u[1][1] for u in users],
                "EMAIL": [u[1][2] for u in users],
                "FIRST_NAME": [u[1][3] for u in users],
                "LAST_NAME": [u[1][4] for u in users],
            }),
            "istaiga": pa.table({
                "ID": pa.array([o[0] for o in orgs], pa.int32()),
                "PAVADINIMAS": [o[1][0] for o in orgs],
                "KODAS": [o[1][1] for o in orgs],
                "ADRESAS": [o[1][2] for o in orgs],
            }),
            "rinkmena": rinkmena,
            "kategorija": pa.table({
                "ID": pa.array([c[0] for c in self.categories], pa.int32()),
                "PAVADINIMAS": [c[1] for c in self.categories],
                "KATEGORIJA_ID": pa.array([c[2] for c in self.categories], pa.int32()),
                "LYGIS": pa.array([c[3] for c in self.categories], pa.int32()),
            }),
            "kategorija_rinkmena": pa.table({
                "ID": pa.array(range(1, len(self.bridge) + 1), pa.int32()),
                "KATEGORIJA_ID": pa.array([b[0] for b in self.bridge], pa.int32()),
                "RINKMENA_ID": pa.array([b[1] for b in self.bridge], pa.int32()),
            }),
        }


def write_source(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
