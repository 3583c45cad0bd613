"""Serve-or-build artifacts: the one place that knows where a derived
table lives, when it is fresh, and whether a query may serve from it.

Every persisted artifact (indexes, signature tables, layouts, manifests)
follows the reference's policy of building once per ingest batch and
serving every later query from the result (reference
src/pipeline.py:164-165). Three decisions make that
policy, and they live here:

- **Where.** `warehouse_path(sf_dir, stem)`: a directory under the repo
  warehouse, suffixed with a hash of the corpus dir so corpora at
  different paths never share an artifact.
- **When fresh.** The artifact's CAS-committed meta record
  (manifest.commit_meta) must carry the stat signature of its source
  tables plus every build-variant key (`exclude_mod`, `n_files`,
  `layout_rev`, `partial`, ...) present and equal. A record missing a
  key describes an unknown build and is never served.
- **Whether servable.** Fresh, and not inside `force_scan_path()` — the
  routing override that keeps every scan branch gated and measurable.

`Artifact(stem, sources, build, variant)` packages the three for the
common case: one directory per corpus, freshness from its source tables.
Artifacts that do not fit (catalog tables, two-factor views, caller-
supplied paths) call `meta_matches` and the path helpers directly.
"""

from __future__ import annotations

import hashlib
import os
from contextlib import contextmanager

from . import manifest
from .catalog import table_stat_signature

_WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "spark-warehouse",
)


def path_tag(key: str) -> str:
    """Ten hex digits identifying `key` in artifact names."""
    return hashlib.md5(key.encode()).hexdigest()[:10]


def corpus_tag(sf_dir: str) -> str:
    return path_tag(os.path.abspath(sf_dir))


def warehouse_dir(name: str) -> str:
    return os.path.join(_WAREHOUSE, name)


def warehouse_path(sf_dir: str, stem: str) -> str:
    """This corpus's location for the artifact named `stem`."""
    return warehouse_dir(f"{stem}_{corpus_tag(sf_dir)}")


_force_scan = False


@contextmanager
def force_scan_path():
    """Routing override: inside this context no artifact is servable, so
    every routed query constructs its scan-path plan even when the
    artifact is built. The *_scan gate variants use it to gate both
    routing branches every run, and bench.py to publish the scan-path
    walls beside the served ones. Routing is decided while the DataFrame
    is built, so wrapping construction alone is sufficient."""
    global _force_scan
    _force_scan = True
    try:
        yield
    finally:
        _force_scan = False


def scan_forced() -> bool:
    return _force_scan


def meta_matches(meta: dict | None, expected: dict) -> bool:
    """Every expected key is present in `meta` and equal."""
    return meta is not None and all(k in meta and meta[k] == v for k, v in expected.items())


class Artifact:
    """A per-corpus artifact under the warehouse.

    `sources`: the tables whose stat signature is the freshness currency.
    `build(spark, sf_dir, path, **params)`: writes the data and returns
    extra meta keys (or None). `variant(sf_dir, **params)`: the build-
    variant keys a fresh record must carry."""

    def __init__(self, stem: str, sources: tuple[str, ...], build, variant=None) -> None:
        self.stem = stem
        self.sources = sources
        self.build = build
        self.variant = variant or (lambda sf_dir: {})

    def path(self, sf_dir: str) -> str:
        return warehouse_path(sf_dir, self.stem)

    def signature(self, sf_dir: str) -> str:
        return table_stat_signature(sf_dir, self.sources)

    def expected(self, sf_dir: str, **params) -> dict:
        return {"source_signature": self.signature(sf_dir), **self.variant(sf_dir, **params)}

    def fresh(self, sf_dir: str, **params) -> dict | None:
        """The committed meta record when it matches the sources and the
        variant, else None. One meta read and one signature walk."""
        meta = manifest.read_meta(self.path(sf_dir))
        return meta if meta_matches(meta, self.expected(sf_dir, **params)) else None

    def servable(self, sf_dir: str, **params) -> dict | None:
        """`fresh`, unless the scan path is forced. Never builds: a
        serving query must not hide a build inside its wall."""
        return None if scan_forced() else self.fresh(sf_dir, **params)

    def ensure(self, spark, sf_dir: str, **params) -> str:
        """Serve-or-build: reuse the artifact while fresh, rebuild
        otherwise."""
        want = self.expected(sf_dir, **params)
        if meta_matches(manifest.read_meta(self.path(sf_dir)), want):
            return self.path(sf_dir)
        return self._commit(spark, sf_dir, want, params)

    def rebuild(self, spark, sf_dir: str, **params) -> str:
        return self._commit(spark, sf_dir, self.expected(sf_dir, **params), params)

    def _commit(self, spark, sf_dir: str, want: dict, params: dict) -> str:
        # The signature is read BEFORE the build: an ingest landing during
        # the build leaves a record that under-claims freshness (the next
        # ensure rebuilds), never one that over-claims it.
        path = self.path(sf_dir)
        extra = self.build(spark, sf_dir, path, **params) or {}
        manifest.commit_meta(path, {**want, **extra})
        return path
