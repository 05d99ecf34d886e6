"""The two workloads. Each is a closed loop with one client: the next
op is sent only when the previous one returned.

A workload makes its inputs from the seed (``generate``), computes the
reference outputs its checks compare against and warms the engine
(``warmup``, which returns the problems its checked warm-up ops showed,
one list per op), then yields ops. ``prepare`` runs off the clock before
an op, ``run`` is the timed op, and ``check`` (off the clock) returns the
problems found in the op's output; an op with problems counts as
failed. ``finish`` runs checks that read state across ops.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from decimal import Decimal

import gen

# ---------------------------------------------------------------- helpers


def canon(v):
    """One comparable form for a cell from Spark or DuckDB."""
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dict):
        return tuple(canon(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def _sort_key(v):
    if isinstance(v, float):
        return f"{v:.6g}"
    if isinstance(v, tuple):
        return tuple(_sort_key(x) for x in v)
    return repr(v)


def rowset(cols: list[str], rows) -> list[tuple]:
    """Rows with columns in name order, sorted; order-insensitive form."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(canon(r[i]) for i in idx) for r in rows]
    return sorted(out, key=_sort_key)


def same(a, b) -> bool:
    """Equal, with floats compared to 1e-9 relative: sums over the same
    rows in another order differ in the last bits of a double."""
    if isinstance(a, float) and isinstance(b, (int, float)) or isinstance(b, float) and isinstance(a, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def assert_share_band(spark, texts: dict[int, str], pairs: list[tuple[int, int]]) -> None:
    """Set-up assertion that each planted (original, rewrite) pair shares a
    MinHash band under the program's own keys. The generator plants
    rewrites by construction (one appended word); this catches a
    generator that no longer does, before any op is timed."""
    from sentinela_py_spark.operators.dedup import lsh_band_signatures, minhash_signatures

    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")
    keys: dict[int, set] = {}
    for r in lsh_band_signatures(minhash_signatures(docs)).collect():
        keys.setdefault(r["doc_id"], set()).add((r["band"], r["sig"]))
    apart = [p for p in pairs if not keys.get(p[0], set()) & keys.get(p[1], set())]
    if apart:
        raise AssertionError(f"planted rewrites share no MinHash band with their original: {apart}")


def compare_rowsets(got: list[tuple], want: list[tuple]) -> list[str]:
    if len(got) != len(want):
        return [f"row count {len(got)} != {len(want)}"]
    bad = [(g, w) for g, w in zip(got, want) if not same(g, w)]
    return [f"{len(bad)} rows differ, first: {bad[0]}"] if bad else []


# -------------------------------------------------------------- query_mix


# Client threads of the warm-up pass. A run must stay near 48 s (48 runs
# in 3420 s with set-up), and warming from threads saves set-up time:
# README.md, "Sizing", gives the measured serial and threaded times.
WARMUP_THREADS = 4


class QueryMix:
    """Registered single-pass queries, the read API over a stored article
    set, and the curation builders (``Curation``), in a seeded permutation
    repeated until the run has its seconds, ending on a whole permutation
    so every op weighs the same in every run. Program memos are cleared
    before every op, so every builder op trains as a new corpus would."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.cfg = ctx.cfg["query_mix"]
        self.tables = os.path.join(ctx.state, "tables")
        self.articles_path = os.path.join(ctx.state, "articles")
        self.curation = Curation(ctx)
        self.rng = gen.rng_for(ctx.seed, "query_mix")
        names = list(self.cfg["queries"]) + list(self.cfg["api_ops"]) + list(BUILDERS)
        self.order = [names[i] for i in self.rng.permutation(len(names))]

    def generate(self):
        gen.write_tables(self.ctx.seed, self.cfg["scale"], self.tables)
        catalog = gen.city_catalog(self.ctx.seed, 500, 0.1)
        self.articles = gen.article_store_rows(self.ctx.seed, self.cfg["articles"], catalog)
        os.makedirs(self.articles_path)
        gen.write_article_store(self.articles, os.path.join(self.articles_path, "part-0.parquet"))
        self.curation.generate()

    def warmup(self):
        import duckdb

        from sentinela_py_spark.plans import QUERIES
        from sentinela_py_spark.tables import TABLE_NAMES

        con = duckdb.connect()
        try:
            for name in TABLE_NAMES:
                path = os.path.join(self.tables, f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
            self.oracle = {}
            for q in self.cfg["queries"]:
                res = con.execute(QUERIES[q].oracle)
                self.oracle[q] = rowset([d[0] for d in res.description], res.fetchall())
        finally:
            con.close()
        # one pass warms every plan and builder and gives the builders'
        # reference outputs; ops are independent, so the pass runs them
        # from a few client threads (see WARMUP_THREADS), longest first
        from concurrent.futures import ThreadPoolExecutor

        self.prepare(None)
        names = list(BUILDERS) + [n for n in self.order if n not in BUILDERS]
        ops = [self._op(name, -1 - i) for i, name in enumerate(names)]
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            results = list(pool.map(self.run, ops))
        self.curation.set_reference(dict(zip(names, results)))
        return [self.check(op, result) for op, result in zip(ops, results)]

    def ops(self):
        i = 0
        while True:
            yield self._op(self.order[i % len(self.order)], i)
            i += 1

    def _op(self, name, i):
        op = {"i": i, "name": name}
        if name in ("list_by_period", "article_city_report"):
            r = self.rng
            start = dt.date(2024, 1, 1) + dt.timedelta(days=int(r.integers(0, 90)))
            op["portal"] = gen.PORTALS[int(r.integers(0, len(gen.PORTALS)))]
            op["start"], op["end"] = start, start + dt.timedelta(days=int(r.integers(7, 31)))
            op["city"] = None
            if name == "list_by_period":
                with_cities = [a for a in self.articles if a["cities"]]
                c = with_cities[int(r.integers(0, len(with_cities)))]["cities"][0]
                op["city"] = c["city_id"] if r.random() < 0.5 else c["identifier"]
        return op

    def done(self, n_ops, measured, seconds):
        return measured >= seconds and n_ops % len(self.order) == 0

    def items(self, op):
        return 1

    def prepare(self, op):
        from sentinela_py_spark.plans.simops import clear_index_memos

        clear_index_memos()

    def _frame(self, op):
        spark = self.ctx.spark
        if op["name"] in self.oracle:
            from sentinela_py_spark.plans import QUERIES

            return QUERIES[op["name"]].spark(spark, self.tables)
        from sentinela_py_spark.operators.ingest import list_by_period
        from sentinela_py_spark.operators.report import article_city_report

        listed = list_by_period(
            spark.read.parquet(self.articles_path), op["portal"], op["start"], op["end"], op["city"]
        )
        return listed if op["name"] == "list_by_period" else article_city_report(listed)

    def run(self, op):
        if op["name"] in BUILDERS:
            return self.curation.run(op["name"])
        tr = self.ctx.tracer
        with tr.span("plans.build"):
            df = self._frame(op)
        if tr.enabled:
            with tr.span("plans.optimize"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("plans.collect"):
            rows = df.collect()
        return df.columns, rows

    def check(self, op, result):
        name = op["name"]
        if name in BUILDERS:
            return self.curation.check(name, result)
        cols, rows = result
        if name in self.oracle:
            return compare_rowsets(rowset(cols, rows), self.oracle[name])
        listed = self._expected_listing(op)
        if name == "list_by_period":
            got = [r["url"] for r in rows]
            want = [a["url"] for a in listed]
            return [] if got == want else [f"listing {len(got)} urls != expected {len(want)}"]
        want = []
        for a in listed:
            for c in a["cities"] or [None]:
                want.append(
                    {
                        "portal": a["portal_name"],
                        "titulo": a["title"],
                        "url": a["url"],
                        "conteudo": a["content"],
                        "publicado_em": a["published_at"].strftime("%Y-%m-%dT%H:%M:%S"),
                        "resumo": a["summary"] or "",
                        "classificacao": a["classification"] or "",
                        "cidade": (c["label"] or c["identifier"]) if c else "",
                        "cidade_id": c["city_id"] if c else "",
                        "uf": c["uf"] if c else "",
                        "ocorrencias": str(c["occurrences"]) if c else "",
                        "fontes": ", ".join(c["sources"]) if c else "",
                    }
                )
        wcols = list(want[0]) if want else cols
        return compare_rowsets(
            rowset(cols, rows), rowset(wcols, [tuple(w.values()) for w in want])
        )

    def _expected_listing(self, op):
        lo = dt.datetime.combine(op["start"], dt.time.min)
        hi = dt.datetime.combine(op["end"], dt.time.max)
        city = op["city"]
        out = [
            a for a in self.articles
            if a["portal_name"] == op["portal"]
            and lo <= a["published_at"] <= hi
            and (city is None or any(city in (c["identifier"], c["city_id"]) for c in a["cities"]))
        ]
        return sorted(out, key=lambda a: a["published_at"])

    def finish(self):
        return {}

    def layer_metrics(self, op, result):
        """Only the metrics of the op's kind (a query or read, or one
        builder); the others stay unset, so each metric's median is over
        the ops of its own kind."""
        if op["name"] in BUILDERS:
            return self.curation.layer_metrics(op, result)
        tr, i = self.ctx.tracer, op["i"]
        return {
            "plans.build_s": tr.total(i, "plans.build"),
            "plans.optimize_s": tr.total(i, "plans.optimize"),
            "plans.collect_s": tr.total(i, "plans.collect"),
        }


# ---------------------------------------------------------- ingest_epochs

BATCH_SCHEMA = (
    "doc_id long, url string, portal string, title string, text string, "
    "published_at timestamp, embedding array<double>"
)


class IngestEpochs:
    """Fixed-size epochs of the seeded news feed through the composed
    ingest screens, compaction after every epoch, then the extraction
    service on each epoch's accepted articles. Epoch 0 is the warm-up and
    runs the same path as a timed epoch; state carries across every epoch
    of the run."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.cfg = ctx.cfg["ingest_epochs"]
        self.state_dir = os.path.join(ctx.state, "ingest")
        self.epochs: dict[int, list[dict]] = {}
        self.pending: list[tuple[int, list[dict]]] = []

    def generate(self):
        from pyspark.sql import functions as F

        from sentinela_py_spark.functions.bloom import bloom_build, plan_bloom_config
        from sentinela_py_spark.functions.text_stats import word_shingles

        cat_cfg = self.ctx.cfg["catalog"]
        self.catalog = gen.city_catalog(self.ctx.seed, cat_cfg["rows"], cat_cfg["ambiguous_share"])
        self.stream = gen.NewsStream(self.ctx.seed, self.catalog, self.cfg)
        sizing = plan_bloom_config(len(self.stream.eval_grams), self.cfg["bloom_fp"])
        self.m_bits, self.n_hashes = sizing.m_bits, sizing.n_hashes
        spark = self.ctx.spark
        evals = spark.createDataFrame(
            list(enumerate(self.stream.eval_docs)), "doc_id long, text string"
        )
        grams = evals.select(
            F.explode(F.array_distinct(word_shingles(F.col("text"), k=5))).alias("key")
        )
        self.bloom = bloom_build(grams, n_hashes=self.n_hashes, m_bits=self.m_bits).localCheckpoint(
            eager=True
        )
        # the warm-up epoch and the first timed one; later epochs are made
        # on demand
        for _ in range(2):
            self.pending.append((self.stream.epoch, self.stream.next_epoch()))
        arts = {a["doc_id"]: a for _e, epoch in self.pending for a in epoch}
        pairs = [(a["origin"], d) for d, a in arts.items() if a["family"] == "rewrite"]
        assert_share_band(spark, {d: arts[d]["text"] for p in pairs for d in p}, pairs)

    def warmup(self):
        """Epoch 0. Its per-op check is left out to save set-up time; the
        run-end funnel check still covers it (as op -1)."""
        from sentinela_py_spark.operators.ner import heuristic_person_engine

        self.engine = heuristic_person_engine
        op = next(self.ops())
        self.prepare(op)
        self.run(op)
        return [[]]

    def ops(self):
        while True:
            if self.pending:
                epoch, articles = self.pending.pop(0)
            else:
                epoch, articles = self.stream.epoch, self.stream.next_epoch()
            yield {"i": epoch - 1, "epoch": epoch, "articles": articles}

    def prepare(self, op):
        self.epochs[op["epoch"]] = op["articles"]
        rows = [
            (a["doc_id"], a["url"], a["portal"], a["title"], a["text"], a["published_at"], a["embedding"])
            for a in op["articles"]
        ]
        op["batch"] = self.ctx.spark.createDataFrame(rows, BATCH_SCHEMA)

    def done(self, n_ops, measured, seconds):
        return measured >= seconds

    def items(self, op):
        return len(op["articles"])

    def run(self, op):
        from pyspark.sql import functions as F

        from sentinela_py_spark.operators.extraction_job import extraction_batch
        from sentinela_py_spark.streaming.pipeline import composed_ingest_batch
        from sentinela_py_spark.streaming.stores import compact_ingest_state

        tr, epoch = self.ctx.tracer, op["epoch"]
        with tr.span("pipeline.composed"):
            accepted = composed_ingest_batch(
                op["batch"],
                self.bloom,
                epoch,
                self.state_dir,
                threshold=self.cfg["embedding_threshold"],
                min_hits=self.cfg["min_hits"],
                m_bits=self.m_bits,
                n_hashes=self.n_hashes,
            )
        with tr.span("stores.compact"):
            compact_ingest_state(self.ctx.spark, self.state_dir)
        with tr.span("extraction.batch"):
            out = extraction_batch(
                accepted.select("url", "title", F.col("text").alias("body")),
                self.catalog,
                engine=self.engine,
            )
            cities = out["cities"].collect()
            n_people = out["people"].count()
            n_processed = out["processed"].count()
        return accepted, cities, n_people, n_processed

    def _store_ids(self, sub: str, epoch: int) -> set[int]:
        from pyspark.sql import functions as F

        from sentinela_py_spark.streaming.stores import read_epoch_store

        df = read_epoch_store(self.ctx.spark, os.path.join(self.state_dir, sub))
        if df is None:
            return set()
        return {r[0] for r in df.filter(F.col("epoch") == epoch).select("doc_id").collect()}

    def check(self, op, result):
        accepted, cities, _n_people, n_processed = result
        arts = op["articles"]
        fam = {f: {a["doc_id"] for a in arts if a["family"] == f} for f in gen.FAMILIES}
        got = {
            "decontam/flagged": self._store_ids("decontam/flagged", op["epoch"]),
            "minhash/rejected": self._store_ids("minhash/rejected", op["epoch"]),
            "embedding/rejected": self._store_ids("embedding/rejected", op["epoch"]),
            "accepted": {r[0] for r in accepted.select("doc_id").collect()},
        }
        want = {
            "decontam/flagged": fam["eval_copy"],
            "minhash/rejected": fam["repost"] | fam["rewrite"],
            "embedding/rejected": fam["paraphrase"],
            "accepted": fam["novel"],
        }
        problems = [
            f"{k}: {len(got[k] - want[k])} unexpected, {len(want[k] - got[k])} missing"
            for k in want
            if got[k] != want[k]
        ]
        if sum(len(ids) for ids in got.values()) != len(arts):
            problems.append("arrived != rejections + accepted in the screens' stores")
        if n_processed != len(got["accepted"]):
            problems.append(f"processed markers {n_processed} != accepted {len(got['accepted'])}")
        resolved: dict[str, set[str]] = {}
        for r in cities:
            if r["city_id"] is not None:
                resolved.setdefault(r["url"], set()).add(r["city_id"])
        missed = sum(
            len(set(a["cities"]) - resolved.get(a["url"], set()))
            for a in arts
            if a["family"] == "novel"
        )
        if missed:
            problems.append(f"{missed} planted city mentions not resolved to their ibge_id")
        return problems

    def funnel(self) -> dict[int, dict[str, int]]:
        from sentinela_py_spark.streaming.pipeline import ingest_funnel

        out: dict[int, dict[str, int]] = {}
        for r in ingest_funnel(self.ctx.spark, self.state_dir).collect():
            out.setdefault(int(r["epoch"]), {})[r["stage"]] = int(r["n_docs"])
        return out

    def finish(self):
        """Per epoch, ``ingest_funnel`` (derived from the screens'
        persisted state) must show each stage removing exactly the planted
        family aimed at its screen."""
        c = self.stream.counts
        funnel = self.funnel()
        bad: dict[int, list[str]] = {}
        for epoch in self.epochs:
            f = funnel.get(epoch)
            if f is None:
                bad[epoch - 1] = ["epoch missing from the funnel"]
                continue
            want = {
                "arrived": self.cfg["epoch_size"],
                "decontaminated": self.cfg["epoch_size"] - c["eval_copy"],
                "text_dedup": self.cfg["epoch_size"] - c["eval_copy"] - c["repost"] - c["rewrite"],
                "accepted": c["novel"],
            }
            problems = [f"funnel {k} {f.get(k)} != {v}" for k, v in want.items() if f.get(k) != v]
            if problems:
                bad[epoch - 1] = problems
        return bad

    def layer_metrics(self, op, result):
        tr, i = self.ctx.tracer, op["i"]
        _accepted, cities, _p, _n = result
        mentions = sum(r["occurrences"] for r in cities)
        resolved = sum(r["occurrences"] for r in cities if r["city_id"] is not None)
        compact = tr.op_spans(i, "stores.compact")
        files = sum(
            1
            for _root, _dirs, names in os.walk(self.state_dir)
            for n in names
            if n.endswith(".parquet")
        )
        return {
            "pipeline.decontam_s": tr.total(i, "pipeline.decontam"),
            "pipeline.minhash_s": tr.total(i, "pipeline.minhash"),
            "pipeline.embedding_s": tr.total(i, "pipeline.embedding"),
            "stores.writes": float(len(tr.op_spans(i, "stores.write"))),
            "stores.write_s": tr.total(i, "stores.write"),
            "stores.compact_s": compact[0]["end"] - compact[0]["start"] if compact else None,
            "stores.files_live": float(files),
            "extraction.batch_s": tr.total(i, "extraction.batch"),
            "extraction.mentions": float(mentions),
            "extraction.resolved_ratio": resolved / mentions if mentions else 0.0,
        }


# --------------------------------------------------------------- curation

BUILDERS = ("labels", "weights", "centroids", "merges")


class Curation:
    """The driver-paced curation builders over a seeded corpus, as ops of
    ``query_mix``: connected-components dedup labels
    (``q_dedup_groups``'s ``labels`` arm), the quality model's SVM descent
    (``q_quality_rules``'s ``model`` arm), k-means centroids, and BPE
    training. Each builder op runs over the whole corpus."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.cfg = ctx.cfg["curation"]
        self.corpus = os.path.join(ctx.state, "corpus")

    def generate(self):
        from pyspark.sql import functions as F

        from sentinela_py_spark.tables import load_table

        self.plan = gen.write_curation_corpus(self.ctx.seed, self.cfg, self.corpus)
        pairs = self.plan["rewrites"]
        ids = sorted({d for p in pairs for d in p})
        docs = load_table(self.ctx.spark, self.corpus, "documents").filter(F.col("doc_id").isin(ids))
        assert_share_band(self.ctx.spark, {r["doc_id"]: r["text"] for r in docs.collect()}, pairs)

    def set_reference(self, warm_results: dict):
        """The warm-up pass's outputs: later builder ops must repeat them."""
        self.ref = {b: warm_results[b] for b in BUILDERS if b != "labels"}
        if self.ctx.tracer.enabled:
            self._candidate_pairs()

    def _candidate_pairs(self):
        from sentinela_py_spark.operators.dedup import minhash_candidate_pairs
        from sentinela_py_spark.tables import load_table

        pairs = minhash_candidate_pairs(load_table(self.ctx.spark, self.corpus, "documents")).collect()
        family_of = {d: f for f, fam in enumerate(self.plan["families"]) for d in fam}
        verified = sum(
            1 for p in pairs
            if family_of.get(p["doc_a"], -1) == family_of.get(p["doc_b"], -2)
        )
        self.n_pairs, self.pair_yield = len(pairs), (verified / len(pairs) if pairs else 0.0)

    def run(self, builder):
        from sentinela_py_spark.functions.kmeans import kmeans_centroids_local
        from sentinela_py_spark.operators.bpe import bpe_train
        from sentinela_py_spark.plans.registry import ARMS
        from sentinela_py_spark.tables import load_table

        spark, tr, cfg = self.ctx.spark, self.ctx.tracer, self.cfg
        if builder == "labels":
            with tr.span("dedup.labels"):
                return ARMS["q_dedup_groups"]["labels"](spark, self.corpus).collect()
        if builder == "weights":
            with tr.span("linear_model.model_arm"):
                return list(ARMS["q_quality_rules"]["model"](spark, self.corpus).collect()[0])
        if builder == "centroids":
            with tr.span("kmeans.train"):
                e = load_table(spark, self.corpus, "embeddings")
                return kmeans_centroids_local(e, cfg["kmeans_k"], iters=cfg["kmeans_iters"])
        with tr.span("bpe.train"):
            docs = load_table(spark, self.corpus, "documents")
            return bpe_train(docs, cfg["bpe_merges"])[0]

    def _label_problems(self, labels):
        group = {r["doc_id"]: r["group_id"] for r in labels}
        problems = []
        if len(group) != self.plan["n_docs"]:
            problems.append(f"{len(group)} labelled docs != {self.plan['n_docs']}")
        fam_groups = [{group.get(d) for d in fam} for fam in self.plan["families"]]
        split = sum(1 for g in fam_groups if len(g) != 1)
        if split:
            problems.append(f"{split} planted families not collapsed to one label")
        in_family = {d for fam in self.plan["families"] for d in fam}
        merged = sum(1 for d, g in group.items() if d not in in_family and g != d)
        if merged or len({next(iter(g)) for g in fam_groups}) != len(fam_groups):
            problems.append(f"unrelated documents merged ({merged} singletons relabelled)")
        return problems

    def check(self, builder, result):
        if builder == "labels":
            return self._label_problems(result)
        return [] if result == self.ref[builder] else [f"{builder} differ from the warm-up pass"]

    def layer_metrics(self, op, result):
        from sentinela_py_spark.functions.linear_model import SVM_ITERS

        tr, jobs, i = self.ctx.tracer, self.ctx.jobs, op["i"]

        def n_jobs(name):
            return float(sum(len(jobs.in_window(s["start"], s["end"])) for s in tr.op_spans(i, name)))

        builder = op["name"]
        if builder == "labels":
            return {
                "dedup.cc_s": tr.total(i, "dedup.cc"),
                "dedup.cc_jobs": n_jobs("dedup.cc"),
                "dedup.candidate_pairs": float(self.n_pairs),
                "dedup.pair_yield": self.pair_yield,
            }
        if builder == "weights":
            return {
                "linear_model.svm_s": tr.total(i, "linear_model.svm"),
                "linear_model.jobs_per_iter": n_jobs("linear_model.svm") / SVM_ITERS,
            }
        if builder == "centroids":
            return {
                "kmeans.train_s": tr.total(i, "kmeans.train"),
                "kmeans.jobs_per_iter": n_jobs("kmeans.train") / self.cfg["kmeans_iters"],
            }
        return {
            "bpe.train_s": tr.total(i, "bpe.train"),
            "bpe.jobs_per_merge": n_jobs("bpe.train") / max(1, len(result)),
        }


WORKLOADS = {"query_mix": QueryMix, "ingest_epochs": IngestEpochs}
