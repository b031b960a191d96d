"""Seeded input generators for the engine benchmark.

Everything the program under test reads is written here, from the workload
seed alone: the same seed gives byte-identical files.

- ``documents_frame``: rows shaped like the testdata ``documents`` table (a
  30-word vocabulary, 10-100 words per row, a few planted near-duplicates).
- ``Corpus``: markdown pages built from those rows under generated headings,
  plus the seeded mutation plan of each change cycle and the sync counters
  that plan must produce.
- ``write_tables``: the ten registry tables at a given scale factor, with the
  schemas and row counts of the repository's sf0.1 test tables. Their value
  distributions were profiled column by column (key ranges, lines per order,
  date ranges, category shares, text lengths, vector norms) and are
  reproduced: uniform random foreign keys, so lines per order are Poisson
  with mean 4 and about 1.8 % of orders have none; ship dates uniform over
  1995-01-02..2001-11-04, independent of the order date. The values are
  random draws, so per-query row counts differ from the test tables'.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

# page layout: url subtree -> share of pages; two file extensions so the
# extension filter of query_documentation selects a real subset
SECTIONS = ("guide", "reference", "api", "tutorials")
EXTENSIONS = (".md", ".markdown")


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def document_texts(seed: int, n: int) -> list[str]:
    """``n`` document texts; every 20th row is a near-duplicate of the row
    before it with one word swapped for ``dup`` (the testdata plants these)."""
    rng = random.Random(f"documents:{seed}")
    out: list[str] = []
    for i in range(n):
        if i % 20 == 19:
            words = out[-1].split()
            words[rng.randrange(len(words))] = "dup"
            out.append(" ".join(words))
        else:
            out.append(_words(rng, rng.randint(10, 100)))
    return out


# -- markdown corpus ----------------------------------------------------------


def render_page(title: str, paragraphs: list[str], rng: random.Random) -> str:
    """One markdown page: a title, then ``##`` sections (some with a ``###``
    subsection) holding the paragraphs in order."""
    lines = [f"# {title}", ""]
    i = 0
    s = 0
    while i < len(paragraphs):
        s += 1
        lines += [f"## {s}. {rng.choice(VOCAB).title()} {rng.choice(VOCAB)}", ""]
        for _ in range(rng.randint(1, 3)):
            if i >= len(paragraphs):
                break
            if rng.random() < 0.25:
                lines += [f"### {rng.choice(VOCAB).title()} notes", ""]
            lines += [paragraphs[i], ""]
            i += 1
    return "\n".join(lines)


@dataclass
class Mutation:
    """One change cycle: which pages are edited, deleted and added, and the
    new contents of the edited and added ones."""

    edited: dict[str, str]
    deleted: list[str]
    added: dict[str, str]

    def expected_counters(self, pages_before: int) -> dict[str, int]:
        return expected_counters(
            pages_before, len(self.edited), len(self.deleted), len(self.added)
        )


def expected_counters(pages_before: int, edited: int, deleted: int, added: int) -> dict[str, int]:
    """The item counters a full-listing sync must report for a change cycle:
    every edited page is updated, every untouched stored page unchanged."""
    if edited + deleted > pages_before:
        raise ValueError("a cycle cannot touch more pages than exist")
    return {
        "items_new": added,
        "items_updated": edited,
        "items_deleted": deleted,
        "items_unchanged": pages_before - edited - deleted,
    }


def change_sizes(pages: int, edit_share: float, delete_share: float, add_share: float) -> tuple[int, int, int]:
    """Pages edited, deleted and added by one cycle: each share of the
    current page count, rounded, and at least one of each."""
    def n(share: float) -> int:
        return max(1, round(pages * share))

    return n(edit_share), n(delete_share), n(add_share)


class Corpus:
    """The markdown corpus as relative path -> text, with seeded mutations.

    Paths look like ``guide/page-00042.md``. The page text is built from
    ``document_texts`` rows, 3-10 rows per page, so page sizes follow the
    documents table. ``write`` mirrors the current state into a directory,
    touching only files whose text changed."""

    def __init__(self, seed: int, n_pages: int):
        self.seed = seed
        self._rng = random.Random(f"corpus:{seed}")
        self._texts = document_texts(seed, n_pages * 12)
        self._next_row = 0
        self._next_page = 0
        self._cycle = 0
        self.pages: dict[str, str] = {}
        for _ in range(n_pages):
            path = self._new_path()
            self.pages[path] = self._page_text(path)

    def _new_path(self) -> str:
        k = self._next_page
        self._next_page += 1
        section = SECTIONS[self._rng.randrange(len(SECTIONS))]
        ext = EXTENSIONS[0] if self._rng.random() < 0.8 else EXTENSIONS[1]
        return f"{section}/page-{k:05d}{ext}"

    def _rows(self, n: int) -> list[str]:
        out = []
        for _ in range(n):
            if self._next_row >= len(self._texts):
                self._texts += document_texts(self.seed + len(self._texts), 1000)
            out.append(self._texts[self._next_row])
            self._next_row += 1
        return out

    def _page_text(self, path: str) -> str:
        title = path.rsplit("/", 1)[-1].split(".", 1)[0].replace("-", " ").title()
        return render_page(title, self._rows(self._rng.randint(3, 10)), self._rng)

    def plan(self, edit_share: float = 0.01, delete_share: float = 0.005, add_share: float = 0.005) -> Mutation:
        """The next change cycle's plan (not yet applied). Edits append a
        section naming the cycle, so every edited page changes content."""
        self._cycle += 1
        names = sorted(self.pages)
        n_edit, n_del, n_add = change_sizes(len(names), edit_share, delete_share, add_share)
        touched = self._rng.sample(names, n_edit + n_del)
        edited = {
            p: self.pages[p]
            + f"\n## Revision {self._cycle}\n\n{self._rows(1)[0]} rev{self._cycle}\n"
            for p in sorted(touched[:n_edit])
        }
        deleted = sorted(touched[n_edit:])
        added = {}
        for _ in range(n_add):
            path = self._new_path()
            added[path] = self._page_text(path)
        return Mutation(edited=edited, deleted=deleted, added=added)

    def apply(self, m: Mutation) -> None:
        for p in m.deleted:
            del self.pages[p]
        self.pages.update(m.edited)
        self.pages.update(m.added)

    def write(self, root: str, m: Mutation | None = None) -> None:
        """Write every page (``m`` None) or only the pages ``m`` touches."""
        if m is None:
            items = self.pages.items()
        else:
            items = [*m.edited.items(), *m.added.items()]
            for p in m.deleted:
                os.remove(os.path.join(root, p))
        for rel, text in items:
            full = os.path.join(root, rel)
            os.makedirs(os.path.dirname(full), exist_ok=True)
            with open(full, "w", encoding="utf-8") as f:
                f.write(text)


# -- registry tables ----------------------------------------------------------

# row counts of the sf0.1 test tables; documents and embeddings floor at 500
# rows, as in the smaller testdata scales
_ROWS_SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
_DAY_US = 86_400 * 1_000_000


def table_rows(sf: float) -> dict[str, int]:
    out = {t: max(1, round(n * sf / 0.1)) for t, n in _ROWS_SF01.items()}
    out["documents"] = max(out["documents"], 500)
    out["embeddings"] = max(out["embeddings"], 500)
    return out


def _ts(us) -> "np.ndarray":
    return np.asarray(us, dtype="int64").astype("datetime64[us]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict:
    """The ten registry tables as pyarrow Tables."""
    import pyarrow as pa

    rows = table_rows(sf)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def tbl(cols: dict) -> "pa.Table":
        return pa.table({k: pa.array(v, type=t) for k, (v, t) in cols.items()})

    d0 = np.datetime64("1995-01-01", "us").astype("int64")
    span_days = 2404  # o_orderdate: 1995-01-01 .. 2001-08-01
    ship_days = 2499  # l_shipdate: 1995-01-02 .. 2001-11-04
    out = {
        "region": tbl({
            "r_regionkey": (np.arange(5), i32),
            "r_name": (["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
        }),
        "nation": tbl({
            "n_nationkey": (np.arange(25), i32),
            "n_name": ([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": (np.arange(25) % 5, i32),
        }),
    }
    n = rows["customer"]
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = tbl({
        "c_custkey": (np.arange(n), i64),
        "c_name": ([f"Customer#{i:09d}" for i in range(n)], s),
        "c_nationkey": (rng.integers(0, 25, n), i32),
        "c_acctbal": (_cents(rng, -999.99, 9999.99, n), f64),
        "c_mktsegment": (segs[rng.integers(0, 5, n)], s),
    })
    n = rows["supplier"]
    out["supplier"] = tbl({
        "s_suppkey": (np.arange(n), i64),
        "s_name": ([f"Supplier#{i:09d}" for i in range(n)], s),
        "s_nationkey": (rng.integers(0, 25, n), i32),
        "s_acctbal": (_cents(rng, -999.99, 9999.99, n), f64),
    })
    n = rows["part"]
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    out["part"] = tbl({
        "p_partkey": (np.arange(n), i64),
        "p_name": (np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "), noun[rng.integers(0, 8, n)]), s),
        "p_brand": (np.char.add("Brand#", rng.integers(1, 26, n).astype(str)), s),
        "p_type": (types[rng.integers(0, 6, n)], s),
        "p_size": (rng.integers(1, 51, n), i32),
        "p_retailprice": (np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2), f64),
    })
    n = rows["orders"]
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = tbl({
        "o_orderkey": (np.arange(n), i64),
        "o_custkey": (rng.integers(0, rows["customer"], n), i64),
        "o_orderstatus": (np.array(["F", "O", "P"])[rng.integers(0, 3, n)], s),
        "o_totalprice": (_cents(rng, 1000.0, 500000.0, n), f64),
        "o_orderdate": (_ts(d0 + rng.integers(0, span_days, n) * _DAY_US), ts),
        "o_orderpriority": (prio[rng.integers(0, 5, n)], s),
    })
    n = rows["lineitem"]
    out["lineitem"] = tbl({
        "l_orderkey": (rng.integers(0, rows["orders"], n), i64),
        "l_partkey": (rng.integers(0, rows["part"], n), i64),
        "l_suppkey": (rng.integers(0, rows["supplier"], n), i64),
        "l_linenumber": (rng.integers(1, 8, n), i32),
        "l_quantity": (rng.integers(1, 51, n).astype("float64"), f64),
        "l_extendedprice": (_cents(rng, 900.0, 105000.0, n), f64),
        "l_discount": (rng.integers(0, 11, n) / 100.0, f64),
        "l_tax": (rng.integers(0, 9, n) / 100.0, f64),
        "l_returnflag": (np.array(["A", "N", "R"])[rng.integers(0, 3, n)], s),
        "l_linestatus": (np.array(["F", "O"])[rng.integers(0, 2, n)], s),
        "l_shipdate": (_ts(d0 + (1 + rng.integers(0, ship_days, n)) * _DAY_US), ts),
    })
    n = rows["events"]
    t_ev = np.datetime64("2024-01-01", "us").astype("int64") + np.sort(
        rng.integers(0, 30 * _DAY_US, n)
    )
    out["events"] = tbl({
        "event_id": (np.arange(n), i64),
        "ts": (_ts(t_ev), ts),
        "user_id": (rng.integers(0, 1500, n), i64),
        "event_type": (np.array(["click", "error", "purchase", "signup", "view"])[rng.integers(0, 5, n)], s),
        "value": (np.round(rng.exponential(50.0, n), 2), f64),
        "props": ([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], s),
    })
    n = rows["documents"]
    texts = document_texts(seed, n)
    out["documents"] = tbl({
        "doc_id": (np.arange(n), i64),
        "text": (texts, s),
        "lang": (np.array(LANGS)[rng.choice(5, n, p=LANG_P)], s),
        "source": ([f"src{i % 20}" for i in range(n)], s),
        "n_chars": ([len(t) for t in texts], i64),
    })
    n = rows["embeddings"]
    vec = rng.standard_normal((n, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), type=i64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), type=i32),
    })
    return out


def write_tables(root: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<root>/<table>.parquet`` for every table; returns row counts."""
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    counts = {}
    for name, t in build_tables(seed, sf).items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
