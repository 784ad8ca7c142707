"""NULL / blank text robustness: a real crawl corpus carries NULL text
(fetch failures), empty strings, and whitespace-only documents. Operators
must neither crash nor let degenerate docs pollute near-dup results:
a NULL-text doc has no shingles, so it can never appear in a VERIFIED
near-dup pair (banding may group degenerate docs; verification is the
precision gate that keeps them out).
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def weird_docs(spark):
    return spark.createDataFrame(
        [(1, None), (2, ""), (3, "   "), (4, "normal document text here"),
         (5, "normal document text here")],
        "doc_id long, text string")


def test_dedup_tiers_survive_and_exclude_null(weird_docs):
    from wde_spark.operators import dedup as D

    # exact: NULLs form their own class, blanks canonicalize together,
    # the two real duplicates collapse
    fps = {r.keep_id: r.dup_count for r in D.exact_dedup(weird_docs).collect()}
    assert fps[4] == 2

    pairs = {(r.id_a, r.id_b) for r in
             D.neardup_lsh_verified(weird_docs).collect()}
    assert (4, 5) in pairs
    assert not any(1 in p for p in pairs), \
        "NULL-text doc must never survive Jaccard verification"

    # signatures exist for every row (NULL signature for NULL text is fine;
    # it must not crash the aggregation)
    assert D.minhash_signatures(weird_docs).count() == 5
    assert D.simhash(weird_docs).count() == 5


def test_textstats_and_curation_survive(weird_docs):
    from wde_spark.operators import curation as CU
    from wde_spark.operators import textstats as TS

    for fn in (TS.quality_score, TS.lang_id, TS.token_stats,
               TS.winnowing_fingerprints, TS.tfidf_topk,
               CU.repetition_stats, CU.pii_redact, CU.chunk_documents):
        fn(weird_docs).count()  # must not raise

    # quality gate must fail degenerate docs, not error on them
    q = {r.doc_id: r.passes_quality for r in
         TS.quality_score(weird_docs).collect()}
    assert q[2] is not True and q[3] is not True




class _KernelGrab:
    """Stands in for a DataFrame and returns the kernel `_map_rows` hands
    to mapInPandas, so it can run on a pandas batch without Spark."""

    def select(self, *cols):
        return self

    def mapInPandas(self, kernel, schema):
        return kernel


def test_attach_null_doc_id_every_family(spark):
    """A NULL doc_id reaches the attach synths as NaN. Every one of the 17
    `attach_*` fixtures (plus `attach_images(vary_filters=True)`, the other
    id-dependent form) must emit a NULL media_id for it, with the payload
    of id 0 for the same text, and leave the other rows of the batch as
    they are without the NULL. The kernels run on the pandas batch Arrow
    would deliver (a nullable bigint column arrives as float64 with NaN);
    one Spark run checks the NULL media_id end to end."""
    import pandas as pd

    from wde_spark.operators import multimodal as MM

    # attach_media is the JVM-side stand-in table, not a synth fixture
    families = {n: getattr(MM, n) for n in dir(MM)
                if n.startswith("attach_") and n != "attach_media"}
    assert len(families) == 17
    families["attach_images_vary_filters"] = \
        lambda d: MM.attach_images(d, vary_filters=True)

    batch = pd.DataFrame({"doc_id": [7, None, 8, 0],
                          "text": ["seven", "same text", None, "same text"]})
    assert batch["doc_id"].dtype == "float64"
    alone = batch[batch["doc_id"].notna()].astype({"doc_id": "int64"})
    for name, attach in families.items():
        kernel = attach(_KernelGrab())
        got = pd.concat(kernel(iter([batch])), ignore_index=True)
        ref = pd.concat(kernel(iter([alone])), ignore_index=True)
        null = got["media_id"].isna()
        assert null.sum() == 1, name
        assert got.loc[null, "payload"].item() == \
            got.loc[got["media_id"] == 0, "payload"].item(), name
        assert got.loc[~null, "payload"].tolist() == ref["payload"].tolist(), name
        assert got.loc[~null, "media_id"].tolist() == [7, 8, 0], name

    docs = spark.createDataFrame([(7, "seven"), (None, "same text")],
                                 "doc_id long, text string").coalesce(1)
    rows = MM.attach_qoi(docs).collect()
    assert sorted(r.media_id is None for r in rows) == [False, True]
