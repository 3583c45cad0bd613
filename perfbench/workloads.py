"""The benchmark's workloads: their request streams, how one op runs,
and how its output is checked.

Every workload is a closed loop with one client. Its stream is a sequence
of cycles; a cycle is a fixed multiset of op kinds in a seeded order, so
latency statistics over whole cycles give every row or request kind its
share. `--seed` changes only the stream, never the base tables.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

from . import oracle

# bench.py's 24 headline rows minus events_hourly_rollup (known defect:
# half-way rounding differs from the DuckDB oracle).
ANALYTIC_ROWS = (
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "revenue_by_nation",
    "shipping_priority_top10",
    "customer_order_profile",
    "top_orders_by_value",
    "order_sequence_window",
    "bm25_search",
    "hybrid_rrf_search",
    "ann_cosine_topk",
    "dedup_minhash_signatures",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "chunk_fixed_window",
    "events_sessionization",
    "doc_token_stats",
    "media_metadata",
    "media_metadata_served",
    "media_frame_sample",
    "streaming_hourly_rollup",
    "streaming_hourly_served",
    "near_dup_admission",
    "events_zorder_served",
)

# The served artifacts bench.py builds in its untimed ingest slot, as
# (module, function) of the engine; priming calls each one that exists.
PREPARE_STEPS = (
    ("etl_pdf_pipepline_spark.plans.bucketed", "write_bucketed_facts"),
    ("etl_pdf_pipepline_spark.operators.dedup", "ensure_lsh_band_index"),
    ("etl_pdf_pipepline_spark.plans.zorder", "ensure_zorder_events"),
    ("etl_pdf_pipepline_spark.operators.multimodal", "ensure_media_manifest"),
    ("etl_pdf_pipepline_spark.retrieval.queries", "ensure_bm25_index"),
    ("etl_pdf_pipepline_spark.operators.dedup", "ensure_minhash_signatures"),
    ("etl_pdf_pipepline_spark.operators.dedup", "ensure_simhash_signatures"),
)

# The corpus vocabulary of the pinned documents table (31 words).
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

SERVE_KINDS = ("keyword", "vector", "hybrid", "get_context", "get_document", "get_document_chunks", "upload")
# One serve cycle: ten requests, two of each search mode, so the median
# falls between two search latencies rather than in the gap between a
# search and a document read.
SERVE_MIX = ("keyword", "vector", "hybrid") * 2 + SERVE_KINDS[3:]
# The warm pass: a hybrid search (both search legs and the per-hit document
# reads) and the three document calls; the other kinds run the same paths.
SERVE_WARM = ("hybrid", "get_document", "get_document_chunks", "upload")
SEARCH_LIMIT = 10


@dataclass(frozen=True)
class Op:
    kind: str  # a row name, or a serve request kind
    args: tuple = ()


@dataclass
class Outcome:
    result: object = None
    marks: dict = field(default_factory=dict)


def _rng(workload: str, seed: int, cycle) -> random.Random:
    return random.Random(f"{workload}:{seed}:{cycle}")


# ------------------------------------------------------------------ rows


class RowWorkload:
    """Registered rows: one op is `all_queries()[row](spark, sf)` followed by
    `.toPandas()`, checked against the row's cached DuckDB answer."""

    def __init__(self, name: str, rows: tuple[str, ...], base_dir: str, answers: dict) -> None:
        self.name = name
        self.rows = rows
        self.base_dir = base_dir
        self.answers = answers

    def prepare(self, spark) -> None:
        from etl_pdf_pipepline_spark.registry import all_queries

        self.spark = spark
        qs = all_queries()
        missing = [r for r in self.rows if r not in qs]
        if missing:
            raise RuntimeError(f"rows not registered: {missing}")
        self.fns = {r: qs[r] for r in self.rows}

    def warm_ops(self, seed: int) -> list[Op]:
        return [Op(r) for r in self.rows]

    def cycle_ops(self, seed: int, cycle: int) -> list[Op]:
        rows = list(self.rows)
        _rng(self.name, seed, cycle).shuffle(rows)
        return [Op(r) for r in rows]

    def run(self, op: Op, clock) -> Outcome:
        t0 = clock()
        df = self.fns[op.kind](self.spark, self.base_dir)
        t1 = clock()
        pdf = df.toPandas()
        t2 = clock()
        return Outcome(result=(df, pdf), marks={"t0": t0, "built": t1, "done": t2})

    def check(self, op: Op, out: Outcome) -> str | None:
        df, pdf = out.result
        return oracle.same_answer(oracle.spark_answer(pdf, df.schema), self.answers[op.kind])

    def close(self) -> dict:
        return {}


# ----------------------------------------------------------------- serve


def upload_text(seed: int, cycle, rng: random.Random) -> str:
    words = rng.choices(VOCAB, k=rng.randint(8, 40))
    return " ".join(words + [f"upl{seed}x{cycle}"])


class ServeWorkload:
    """One long-lived `SparkEngine` answering a seeded request mix, checked
    against DuckDB over the lake plus this run's uploads."""

    name = "serve"

    def __init__(self, base_dir: str, n_docs: int) -> None:
        self.base_dir = base_dir
        self.n_docs = n_docs
        self.mirror = oracle.ServingMirror(base_dir)
        self.uploads = 0

    def prepare(self, spark) -> None:
        from etl_pdf_pipepline_spark.api.engine import SparkEngine
        from etl_pdf_pipepline_spark.retrieval.embedder import HashEmbedder, embed_query

        self.engine = SparkEngine(spark, self.base_dir)
        dim = self.mirror.con.execute("SELECT len(embedding) FROM embeddings LIMIT 1").fetchone()[0]
        embedder = HashEmbedder(dim=dim)
        self.embed = lambda q: embed_query(q, embedder)

    def _request(self, kind: str, rng: random.Random, seed: int, cycle) -> Op:
        if kind in ("keyword", "vector", "hybrid"):
            terms = rng.sample(VOCAB, rng.randint(1, 4))
            return Op(kind, (" ".join(terms),))
        if kind == "get_context":
            terms = rng.sample(VOCAB, rng.randint(1, 4))
            return Op(kind, (" ".join(terms), rng.choice((200, 400, 4000))))
        if kind in ("get_document", "get_document_chunks"):
            return Op(kind, (str(rng.randrange(self.n_docs)),))
        if kind == "upload":
            return Op(kind, (f"bench-s{seed}-c{cycle}.pdf", upload_text(seed, cycle, rng)))
        raise ValueError(kind)

    def warm_ops(self, seed: int) -> list[Op]:
        rng = _rng(self.name, seed, "warm")
        return [self._request(k, rng, seed, "warm") for k in SERVE_WARM]

    def cycle_ops(self, seed: int, cycle: int) -> list[Op]:
        rng = _rng(self.name, seed, cycle)
        kinds = list(SERVE_MIX)
        rng.shuffle(kinds)
        return [self._request(k, rng, seed, cycle) for k in kinds]

    def run(self, op: Op, clock) -> Outcome:
        e = self.engine
        t0 = clock()
        if op.kind in ("keyword", "vector", "hybrid"):
            res = e.search(op.args[0], mode=op.kind, limit=SEARCH_LIMIT)
        elif op.kind == "get_context":
            res = e.get_context(op.args[0], max_tokens=op.args[1])
        elif op.kind == "get_document":
            res = e.get_document(op.args[0])
        elif op.kind == "get_document_chunks":
            res = e.get_document_chunks(op.args[0])
        else:
            res = e.upload(op.args[0], op.args[1].encode())
        return Outcome(result=res, marks={"t0": t0, "done": clock()})

    # -- checks (outside the timer) --

    def _expected_hits(self, mode: str, query: str, limit: int) -> list[tuple[str, float]]:
        terms = list(dict.fromkeys(t for t in query.lower().split() if t))
        qvec = self.embed(query) if mode != "keyword" else []
        return oracle.search_oracle(self.mirror.con, mode, terms, qvec, limit)

    def check(self, op: Op, out: Outcome) -> str | None:
        return getattr(self, f"_check_{op.kind}", self._check_search)(op, out.result)

    def _check_search(self, op: Op, res) -> str | None:
        want = self._expected_hits(op.kind, op.args[0], SEARCH_LIMIT)
        got = [(r["document_id"], r["score"]) for r in res]
        if got != want:
            return f"{op.kind} {op.args[0]!r}: ranking {got} != {want}"
        for r in res:
            doc = r["document_id"]
            if r["chunk_id"] != f"{doc}:0" or r["search_mode"] != op.kind:
                return f"{op.kind}: bad hit fields {r}"
            if r["text"] != (self.mirror.text_of(doc) or "")[:300]:
                return f"{op.kind}: snippet of {doc} differs"
        return None

    def _check_get_context(self, op: Op, res) -> str | None:
        query, max_tokens = op.args
        hits = self._expected_hits("hybrid", query, 20)
        kept, budget = [], 0
        for doc, _score in hits:
            text = self.mirror.text_of(doc) or ""
            tokens = int(len(text.split()) * 1.3)
            if budget + tokens > max_tokens:
                break
            budget += tokens
            kept.append(text)
        body = "\n\n---\n\n".join(kept)
        ctx = res.get("context")
        if kept:
            if not (ctx.startswith("Documents referenced:") and ctx.endswith(body)):
                return f"get_context {query!r}: context body differs"
        elif ctx != "":
            return f"get_context {query!r}: expected empty context"
        refs = res.get("documents_referenced")
        if not isinstance(refs, list) or len(refs) > len(kept):
            return f"get_context {query!r}: bad documents_referenced"
        topic = res.get("topic")
        if topic is not None and topic not in query.lower():
            return f"get_context {query!r}: topic {topic!r} not in query"
        return None

    def _lake_doc(self, doc_id: str):
        row = self.mirror.doc_row(int(doc_id))
        if row is None:
            raise KeyError(doc_id)
        return row

    def _check_get_document(self, op: Op, res) -> str | None:
        doc_id = op.args[0]
        source, text = self._lake_doc(doc_id)
        want = {
            "id": doc_id,
            "status": "completed",
            "filename": f"{source}_report_{doc_id}.pdf",
            "file_hash": "sha256:" + hashlib.sha256((text or "").encode()).hexdigest(),
            "page_count": 1,
        }
        for k, v in want.items():
            if res.get(k) != v:
                return f"get_document {doc_id}: {k} {res.get(k)!r} != {v!r}"
        if "text" in res or not isinstance(res.get("title"), str):
            return f"get_document {doc_id}: bad payload keys"
        n = res.get("chunk_count")
        if not isinstance(n, int) or (n >= 1) != bool((text or "").strip()):
            return f"get_document {doc_id}: chunk_count {n!r}"
        if not isinstance(res.get("image_count"), int) or res["image_count"] < 0:
            return f"get_document {doc_id}: image_count {res.get('image_count')!r}"
        return None

    def _check_get_document_chunks(self, op: Op, res) -> str | None:
        doc_id = op.args[0]
        _source, text = self._lake_doc(doc_id)
        text = text or ""
        if not res and text.strip():
            return f"chunks {doc_id}: no chunks for a non-empty document"
        for i, c in enumerate(res):
            if (c["id"], c["chunk_index"], c["document_id"]) != (f"{doc_id}:{i}", i, doc_id):
                return f"chunks {doc_id}: bad identity at {i}"
            if c["text"] not in text or c["token_count"] != int(len(c["text"].split()) * 1.3):
                return f"chunks {doc_id}: chunk {i} text or token_count differs"
        covered = {w for c in res for w in c["text"].split()}
        if covered != set(text.split()):
            return f"chunks {doc_id}: chunks do not cover the document's words"
        return None

    def _check_upload(self, op: Op, res) -> str | None:
        self.uploads += 1
        want_id = f"up-{self.uploads}"
        if res.get("status") != "completed" or res.get("document_id") != want_id:
            return f"upload: {res} (expected {want_id} completed)"
        self.mirror.add_upload(want_id, op.args[1])
        return None

    def close(self) -> dict:
        released = self.engine.close()
        self.mirror.close()
        return released
