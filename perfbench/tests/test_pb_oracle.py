"""Self-tests for the reference chunk model's bookkeeping (plain Python;
the chunker and the stub embedder come from the package).

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

import pb_gen  # noqa: E402
import pb_oracle  # noqa: E402


def _model(corpus):
    model = pb_oracle.ChunkModel(lambda rel: "file:///corpus/" + rel)
    model.set_pages(corpus.pages)
    return model


def test_new_chunk_count_sees_only_new_content():
    corpus = pb_gen.Corpus(4, 100)
    model = _model(corpus)
    m = corpus.plan()
    known = model.chunk_ids()
    model.drop_pages(m.deleted)
    model.set_pages({**m.edited, **m.added})
    changed = [*m.edited, *m.added]
    new = model.new_chunk_count(changed, known)
    assert 0 < new < model.chunk_count(changed)
    # an added page is all new content; an edit keeps most of its chunks
    assert model.new_chunk_count(list(m.added), known) == model.chunk_count(list(m.added))


def test_new_chunk_count_of_an_unchanged_corpus_is_zero():
    corpus = pb_gen.Corpus(4, 30)
    model = _model(corpus)
    assert model.new_chunk_count(list(corpus.pages), model.chunk_ids()) == 0
    assert len(model.chunk_ids()) <= model.chunk_count()
