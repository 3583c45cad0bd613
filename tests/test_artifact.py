"""The serve-or-build contract every per-corpus Artifact shares
(sources/artifact.py): where it lives, what its meta record holds, when it
is fresh, and when a query may serve from it.

The meta records are an on-disk contract: an artifact built by an earlier
checkout must be served by a later one without a rebuild, and the other
way round. The golden test pins each record's keys and each path stem.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from pathlib import Path

import pytest
from conftest import SF_SMALL as SF

from etl_pdf_pipepline_spark.operators import dedup, multimodal, similarity
from etl_pdf_pipepline_spark.plans import zorder
from etl_pdf_pipepline_spark.retrieval import queries
from etl_pdf_pipepline_spark.sources.artifact import Artifact, force_scan_path
from etl_pdf_pipepline_spark.sources.manifest import read_meta, update_meta

REPO = Path(__file__).resolve().parent.parent

# stem -> (artifact, the keys of its committed meta record)
GOLDEN = {
    "lsh_band_index": (dedup.LSH_BANDS, {"source_signature", "exclude_mod"}),
    "cc_labels": (dedup.CC_LABELS, {"source_signature", "exclude_mod"}),
    "minhash_sigs": (dedup.SIGNATURES["minhash"], {"source_signature"}),
    "simhash_sigs": (dedup.SIGNATURES["simhash"], {"source_signature"}),
    "media_manifest": (multimodal.MEDIA_MANIFEST, {"source_signature"}),
    "events_zorder": (
        zorder.ZORDER_EVENTS,
        {"source_signature", "n_files", "layout_rev", "file_stats"},
    ),
    "ivf_index": (similarity.IVF_INDEX, {"source_signature", "exclude_vec_id", "partial"}),
    "int8_codes": (similarity.INT8_CODES, {"source_signature"}),
    "ivf_int8": (similarity.IVF_INT8, {"source_signature", "partial"}),
    "bm25_index": (queries.BM25_INDEX, {"source_signature", "layout", "n", "total_dl"}),
}

# The ingest-slot entry points callers use, per stem.
ENSURE = {
    "lsh_band_index": dedup.ensure_lsh_band_index,
    "cc_labels": dedup.ensure_cc_labels,
    "minhash_sigs": dedup.ensure_minhash_signatures,
    "simhash_sigs": dedup.ensure_simhash_signatures,
    "media_manifest": multimodal.ensure_media_manifest,
    "events_zorder": zorder.ensure_zorder_events,
    "ivf_index": similarity.ensure_ivf_index,
    "int8_codes": similarity.ensure_int8_codes,
    "ivf_int8": similarity.ensure_ivf_int8,
    "bm25_index": queries.ensure_bm25_index,
}


def test_golden_covers_every_artifact():
    found = set()
    for mod in (dedup, multimodal, similarity, zorder, queries):
        for v in vars(mod).values():
            for a in v.values() if isinstance(v, dict) else (v,):
                if isinstance(a, Artifact):
                    found.add(a.stem)
    assert found == set(GOLDEN)
    assert set(ENSURE) == set(GOLDEN)


@pytest.fixture()
def corpus(tmp_path):
    """A writable copy of the sf0.001 tables, so a test can touch mtimes."""
    dst = tmp_path / "corpus"
    dst.mkdir()
    for t in ("documents", "embeddings", "events"):
        shutil.copy(os.path.join(SF, f"{t}.parquet"), dst / f"{t}.parquet")
    yield str(dst)
    for art, _keys in GOLDEN.values():
        shutil.rmtree(art.path(str(dst)), ignore_errors=True)


def _touch(corpus: str, table: str) -> None:
    p = os.path.join(corpus, f"{table}.parquet")
    st = os.stat(p)
    os.utime(p, ns=(st.st_mtime_ns + 1_000_000, st.st_mtime_ns + 1_000_000))


@pytest.mark.parametrize("stem", sorted(GOLDEN))
def test_meta_record_and_path_are_golden(spark, corpus, stem):
    art, keys = GOLDEN[stem]
    tag = hashlib.md5(os.path.abspath(corpus).encode()).hexdigest()[:10]
    path = ENSURE[stem](spark, corpus)
    assert path == str(REPO / "spark-warehouse" / f"{stem}_{tag}") == art.path(corpus)
    meta = read_meta(path)
    assert set(meta) == keys
    assert meta["source_signature"] == art.signature(corpus)
    pinned = {
        "exclude_mod": 20,
        "exclude_vec_id": None,
        "partial": False,
        "layout": 2,
        "layout_rev": 2,
    }
    for k in keys & set(pinned):
        assert meta[k] == pinned[k] and type(meta[k]) is type(pinned[k]), k


@pytest.mark.parametrize("stem", sorted(GOLDEN))
def test_artifact_freshness_lifecycle(spark, corpus, monkeypatch, stem):
    """Build; reuse without rebuilding; not servable under
    force_scan_path; rebuild when a source file is touched; rebuild when a
    build-variant key (or, for variant-free artifacts, the signature) is
    missing from the record."""
    art, _keys = GOLDEN[stem]
    ensure = ENSURE[stem]
    builds = []
    real = art.build
    monkeypatch.setattr(art, "build", lambda *a, **k: (builds.append(1), real(*a, **k))[1])

    path = ensure(spark, corpus)
    assert builds == [1] and art.servable(corpus) is not None
    meta = read_meta(path)
    assert ensure(spark, corpus) == path
    assert builds == [1] and read_meta(path) == meta, "fresh artifact was rebuilt"

    with force_scan_path():
        assert art.servable(corpus) is None
        assert art.fresh(corpus) is not None
    assert art.servable(corpus) is not None

    _touch(corpus, art.sources[0])
    assert art.servable(corpus) is None
    ensure(spark, corpus)
    assert builds == [1, 1] and art.servable(corpus) is not None

    variant = [k for k in art.expected(corpus) if k != "source_signature"]
    drop = variant[0] if variant else "source_signature"
    update_meta(path, lambda cur: {k: v for k, v in cur.items() if k != drop})
    assert art.servable(corpus) is None
    ensure(spark, corpus)
    assert builds == [1, 1, 1] and drop in read_meta(path)


def test_warehouse_path_lives_in_the_artifact_module_only():
    pkg = REPO / "etl_pdf_pipepline_spark"
    offenders = [
        str(p.relative_to(REPO))
        for p in pkg.rglob("*.py")
        if p != pkg / "sources" / "artifact.py" and "spark-warehouse" in p.read_text()
    ]
    assert offenders == []
