"""Self-tests for the seeded input generators.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import pytest  # noqa: E402

import pb_gen  # noqa: E402


def _tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            full = os.path.join(d, f)
            with open(full, "rb") as fh:
                out[os.path.relpath(full, root)] = fh.read()
    return out


def _run_cycles(seed, n_pages, cycles, root):
    corpus = pb_gen.Corpus(seed, n_pages)
    corpus.write(root)
    plans = []
    for _ in range(cycles):
        m = corpus.plan()
        corpus.write(root, m)
        corpus.apply(m)
        plans.append(m)
    return corpus, plans


def test_same_seed_gives_byte_identical_files(tmp_path):
    a, pa = _run_cycles(7, 120, 3, str(tmp_path / "a"))
    b, pb = _run_cycles(7, 120, 3, str(tmp_path / "b"))
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert [(m.edited, m.deleted, m.added) for m in pa] == [(m.edited, m.deleted, m.added) for m in pb]


def test_other_seed_gives_other_corpus():
    assert pb_gen.Corpus(1, 50).pages != pb_gen.Corpus(2, 50).pages


def test_files_on_disk_mirror_the_corpus(tmp_path):
    corpus, _ = _run_cycles(3, 200, 2, str(tmp_path))
    tree = _tree(str(tmp_path))
    assert {k: v.decode() for k, v in tree.items()} == corpus.pages


def test_pages_use_every_section_and_extension():
    pages = pb_gen.Corpus(5, 200).pages
    assert {p.split("/")[0] for p in pages} == set(pb_gen.SECTIONS)
    assert {"." + p.rsplit(".", 1)[1] for p in pages} == set(pb_gen.EXTENSIONS)
    assert all(t.startswith("# ") and "\n## " in t for t in pages.values())


@pytest.mark.parametrize(
    "pages, sizes", [(300, (3, 2, 2)), (1000, (10, 5, 5)), (40, (1, 1, 1)), (150, (2, 1, 1))]
)
def test_change_sizes(pages, sizes):
    assert pb_gen.change_sizes(pages, 0.01, 0.005, 0.005) == sizes


def test_expected_counters_arithmetic():
    assert pb_gen.expected_counters(300, 3, 2, 2) == {
        "items_new": 2, "items_updated": 3, "items_deleted": 2, "items_unchanged": 295,
    }
    assert pb_gen.expected_counters(0, 0, 0, 12)["items_new"] == 12
    with pytest.raises(ValueError):
        pb_gen.expected_counters(2, 2, 1, 0)


def test_plan_matches_its_counters():
    corpus = pb_gen.Corpus(11, 300)
    before = dict(corpus.pages)
    m = corpus.plan()
    c = m.expected_counters(len(before))
    assert set(m.edited) | set(m.deleted) <= set(before)
    assert not set(m.edited) & set(m.deleted)
    assert not set(m.added) & set(before)
    assert all(m.edited[p] != before[p] for p in m.edited)
    corpus.apply(m)
    assert len(corpus.pages) == len(before) - c["items_deleted"] + c["items_new"]
    unchanged = [p for p in before if p in corpus.pages and corpus.pages[p] == before[p]]
    assert len(unchanged) == c["items_unchanged"]


def test_document_texts_plant_near_duplicates():
    texts = pb_gen.document_texts(4, 60)
    assert texts == pb_gen.document_texts(4, 60)
    for i in (19, 39, 59):
        a, b = texts[i - 1].split(), texts[i].split()
        assert len(a) == len(b) and "dup" in b
        assert sum(x != y for x, y in zip(a, b)) <= 1
    assert all(10 <= len(t.split()) <= 100 for t in texts)


def test_tables_are_deterministic_and_shaped(tmp_path):
    import pyarrow.parquet as pq

    rows = pb_gen.write_tables(str(tmp_path / "a"), 9, 0.001)
    pb_gen.write_tables(str(tmp_path / "b"), 9, 0.001)
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert rows == {
        "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
        "orders": 1500, "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500,
    }
    types = {
        name: {f.name: str(f.type) for f in pq.read_schema(str(tmp_path / "a" / f"{name}.parquet"))}
        for name in rows
    }
    assert types["lineitem"]["l_shipdate"] == "timestamp[us]"
    assert types["orders"]["o_custkey"] == "int64"
    assert types["nation"]["n_regionkey"] == "int32"
    assert types["embeddings"]["embedding"] == "list<element: float>"
    assert set(types["documents"]) == {"doc_id", "text", "lang", "source", "n_chars"}
