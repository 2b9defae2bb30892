"""Property-based invariants for context-window chunking (queries/text.py):

- coverage: every token position of every document falls inside at least
  one chunk (no boundary loss — the reason overlap exists);
- overlap: consecutive chunks share exactly OVERLAP tokens, except that a
  short tail chunk may overlap more of its predecessor;
- determinism: chunk ids are dense from 0 per document.

Checked by reconstructing chunk extents from (chunk_id, n_tokens): a
chunk with id c starts at token c*STRIDE + 1.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_lake_spark.queries.text import _CHUNK, _OVERLAP, _STRIDE, q_chunk_docs

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_WORD = st.text(alphabet="abcxyz", min_size=1, max_size=5)


@given(
    docs=st.lists(
        st.lists(_WORD, min_size=1, max_size=4 * _CHUNK), min_size=1, max_size=6
    )
)
@settings(**_SETTINGS)
def test_chunk_cover_and_overlap(spark, tmp_path_factory, docs):
    sf = str(tmp_path_factory.mktemp("chunksf"))
    rows = [(i, " ".join(ws), "en", "hyp", len(" ".join(ws))) for i, ws in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    out = q_chunk_docs(spark, sf).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)

    for i, ws in enumerate(docs):
        n = len(ws)
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        # dense ids from 0
        assert [c.chunk_id for c in chunks] == list(range(len(chunks)))
        covered = set()
        prev_end = None
        for c in chunks:
            start = c.chunk_id * _STRIDE + 1
            end = start + c.n_tokens - 1
            assert c.n_tokens <= _CHUNK
            assert end <= n
            covered.update(range(start, end + 1))
            if prev_end is not None:
                # consecutive windows share >= OVERLAP positions (== for
                # full-size chunks; a clamped tail can only overlap more)
                assert prev_end - start + 1 >= _OVERLAP
            prev_end = end
        assert covered == set(range(1, n + 1))  # every token in a chunk
        # the final chunk reaches the last token
        assert prev_end == n
