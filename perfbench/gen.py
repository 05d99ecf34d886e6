"""Seeded input generator for the benchmark workloads.

Every input a workload runs on is made here from one integer seed; the
program under test only ever sees the generated files and frames. The
same seed gives byte-identical outputs (see ``test_gen.py``).

Inputs:

- ``write_tables``: the ten warehouse tables the registered queries read
  (region … lineitem, events, documents, embeddings), one parquet file
  each, in the shape and value domains the registry's plans expect.
- ``article_store_rows``: stored articles (the ``schemas.ARTICLE`` shape)
  for the portal / period / city read API and the city report.
- ``city_catalog``: the extraction gazetteer, with a planted share of
  names that exist in two states.
- ``NewsStream``: the ingest feed. Each epoch holds fixed counts of novel
  articles and of four planted families, each aimed at one screen:
  exact reposts and near-duplicate rewrites (MinHash screen), passages
  copied from the eval split (decontamination screen), and paraphrases
  whose embedding sits next to an earlier article's (embedding screen).
- ``write_curation_corpus``: a ``documents`` / ``embeddings`` corpus with
  planted near-duplicate families for the curation builders.

Families are planted by construction with wide margins, never by
replaying the program's keys: a rewrite is its original with one word
appended (one new 3-word shingle in 120), a paraphrase's embedding is its
original's plus noise of norm 1e-3, and unrelated texts draw from a
vocabulary far larger than any document, so they share no 3-word shingle
band and no 5-gram with the eval split. The 5-gram condition is checked
here; that planted families share a MinHash band is asserted at set-up
through the program's own ``lsh_band_signatures``
(``workloads.assert_share_band``).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from sentinela_py_spark.functions.textnorm import STATE_BY_NAME, strip_accents
from sentinela_py_spark.plans.simops import EMB_DIM

UFS = sorted(set(STATE_BY_NAME.values()))
_SYLLABLES = [c + v for c in "bcdfgjlmnprstvz" for v in "aeiou"]
# substrings the state-mention scanner would read as a state name
_BANNED = sorted({strip_accents(n) for n in STATE_BY_NAME} | {"estado"})
PORTALS = [f"portal{i}" for i in range(8)]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, input stream): adding a stream
    never shifts the values of another."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def vocabulary(rng: np.random.Generator, n: int, min_syl: int = 2, max_syl: int = 4) -> list[str]:
    """``n`` distinct lowercase words, none containing a state name."""
    seen: dict[str, None] = {}
    while len(seen) < n:
        k = int(rng.integers(min_syl, max_syl + 1))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), k))
        if w not in seen and not any(b in w for b in _BANNED):
            seen[w] = None
    return list(seen)


def _words(rng: np.random.Generator, vocab: list[str], n: int) -> list[str]:
    return [vocab[i] for i in rng.integers(0, len(vocab), n)]


def grams5(text: str) -> set[str]:
    toks = text.split(" ")
    return {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}


def unit(rng: np.random.Generator, dim: int = EMB_DIM) -> np.ndarray:
    v = rng.standard_normal(dim)
    return v / np.linalg.norm(v)


# --- warehouse tables ---

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "red", "small", "old"]
_PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts_us(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(epoch_us + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=1 << 30)


def write_tables(seed: int, scale: float, out_dir: str) -> dict[str, int]:
    """Write the ten warehouse tables at ``scale`` (1.0 ≈ 6M lineitems)
    under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "tables")
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
            "p_type": [_PART_TYPES[i] for i in r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(r.uniform(900.0, 999.9, n_part), 1),
        }
    )
    order_day = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [_STATUS[i] for i in r.integers(0, 3, n_ord)],
            "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n_ord), 2),
            "o_orderdate": _ts_us(dt.datetime(1995, 1, 1), order_day.astype(np.float64) * 86400),
            "o_orderpriority": [_PRIORITY[i] for i in r.integers(0, 5, n_ord)],
        }
    )
    lines_per = r.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    l_order = np.repeat(np.arange(n_ord), lines_per)
    l_line = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    qty = r.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(l_line, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_li)],
            "l_shipdate": _ts_us(
                dt.datetime(1995, 1, 1),
                (order_day[l_order] + r.integers(1, 121, n_li)).astype(np.float64) * 86400,
            ),
        }
    )
    ev_sec = np.sort(r.uniform(0, 30 * 86400, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_us(dt.datetime(2024, 1, 1), np.round(ev_sec, 6)),
            "user_id": pa.array(r.integers(0, max(15, n_ev // 66), n_ev), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
            "value": np.round(r.exponential(60.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    vocab = vocabulary(r, 400)
    docs = [" ".join(_words(r, vocab, int(k))) for k in r.integers(8, 90, n_doc)]
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": docs,
            "lang": [_LANGS[i] for i in r.integers(0, len(_LANGS), n_doc)],
            "source": [f"src{i}" for i in r.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(d) for d in docs], pa.int64()),
        }
    )
    t["embeddings"] = _embeddings_table(r, n_vec, n_clusters=10)
    for name, table in t.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def _embeddings_table(r: np.random.Generator, n: int, n_clusters: int) -> pa.Table:
    centers = np.stack([unit(r) for _ in range(n_clusters)])
    label = r.integers(0, n_clusters, n)
    vecs = centers[label] + 0.35 * r.standard_normal((n, EMB_DIM)) / np.sqrt(EMB_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


# --- gazetteer and stored articles ---


def city_catalog(seed: int, n: int, ambiguous_share: float) -> list[dict]:
    """``n`` catalog rows {ibge_id, name, uf}. ``ambiguous_share`` of the
    rows carry a name that also names a city in another state (pairs)."""
    r = rng_for(seed, "catalog")
    n_pairs = int(round(n * ambiguous_share / 2))
    names = [w.capitalize() for w in vocabulary(r, n - n_pairs, 3, 4)]
    rows = []
    for i, name in enumerate(names):
        uf = UFS[int(r.integers(0, len(UFS)))]
        rows.append({"ibge_id": str(1_000_000 + i), "name": name, "uf": uf})
    for j in range(n_pairs):
        first = rows[j]
        other = [u for u in UFS if u != first["uf"]]
        rows.append(
            {
                "ibge_id": str(1_000_000 + len(names) + j),
                "name": first["name"],
                "uf": other[int(r.integers(0, len(other)))],
            }
        )
    return rows


def catalog_kinds(catalog: list[dict]) -> tuple[list[dict], list[dict]]:
    """(entries whose name is unique, entries whose name is shared)."""
    count: dict[str, int] = {}
    for e in catalog:
        count[e["name"]] = count.get(e["name"], 0) + 1
    unique = [e for e in catalog if count[e["name"]] == 1]
    shared = [e for e in catalog if count[e["name"]] > 1]
    return unique, shared


def article_store_rows(seed: int, n: int, catalog: list[dict], days: int = 120) -> list[dict]:
    """``n`` stored articles in the ``schemas.ARTICLE`` shape, spread over
    ``days`` days from 2024-01-01 with distinct publication seconds (so
    the period listing's order is total), 0–3 city mentions each."""
    r = rng_for(seed, "article_store")
    vocab = vocabulary(r, 3000)
    seconds = r.choice(days * 86400, size=n, replace=False)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(n):
        cities = []
        for e in (catalog[j] for j in r.choice(len(catalog), int(r.integers(0, 4)), replace=False)):
            occ = int(r.integers(1, 5))
            cities.append(
                {
                    "identifier": e["name"].lower(),
                    "city_id": e["ibge_id"],
                    "label": e["name"],
                    "uf": e["uf"],
                    "occurrences": occ,
                    "sources": ["pattern_municipio"] if occ % 2 else ["ner", "pattern_city_uf"],
                }
            )
        rows.append(
            {
                "portal_name": PORTALS[int(r.integers(0, len(PORTALS)))],
                "title": " ".join(_words(r, vocab, 6)).capitalize(),
                "url": f"https://news.example/{i:06d}",
                "content": " ".join(_words(r, vocab, int(r.integers(20, 60)))),
                "summary": None if r.random() < 0.3 else " ".join(_words(r, vocab, 10)),
                "classification": None if r.random() < 0.5 else "politica",
                "published_at": base + dt.timedelta(seconds=int(seconds[i])),
                "cities": cities,
                "cities_extraction": None,
                "geo_enriched": bool(cities),
                "raw": None,
            }
        )
    return rows


_CITY = pa.struct(
    [
        ("identifier", pa.string()),
        ("city_id", pa.string()),
        ("label", pa.string()),
        ("uf", pa.string()),
        ("occurrences", pa.int32()),
        ("sources", pa.list_(pa.string())),
    ]
)
ARTICLE_ARROW = pa.schema(
    [
        ("portal_name", pa.string()),
        ("title", pa.string()),
        ("url", pa.string()),
        ("content", pa.string()),
        ("summary", pa.string()),
        ("classification", pa.string()),
        ("published_at", pa.timestamp("us", tz="UTC")),
        ("cities", pa.list_(_CITY)),
        (
            "cities_extraction",
            pa.struct(
                [
                    ("version", pa.string()),
                    ("ts", pa.string()),
                    ("hash", pa.string()),
                    ("matches_count", pa.int32()),
                ]
            ),
        ),
        ("geo_enriched", pa.bool_()),
        ("raw", pa.map_(pa.string(), pa.string())),
    ]
)


def write_article_store(rows: list[dict], path: str) -> None:
    """One parquet file of ``article_store_rows`` in the ``schemas.ARTICLE``
    column layout (timestamps UTC-adjusted, as a Spark writer stores them)."""
    utc = [dict(r, published_at=r["published_at"].replace(tzinfo=dt.timezone.utc)) for r in rows]
    _write(pa.Table.from_pylist(utc, schema=ARTICLE_ARROW), path)


# --- ingest feed ---

FAMILIES = ("novel", "repost", "rewrite", "eval_copy", "paraphrase")


class NewsStream:
    """Deterministic feed of epochs of news articles with planted families.

    ``shares`` maps each family in FAMILIES to its share of an epoch; the
    counts per epoch are fixed (``round(share × epoch_size)``). Ids ascend
    in generation order and every planted copy points at a novel article
    with a smaller id, so the screens' min-id election always keeps the
    original. Each article carries ``family`` and ``origin`` (the copied
    article's id, or -1) for the checks; the program never sees them."""

    def __init__(self, seed: int, catalog: list[dict], cfg: dict):
        self.r = rng_for(seed, "news")
        self.cfg = cfg
        self.counts = {f: int(round(cfg["shares"][f] * cfg["epoch_size"])) for f in FAMILIES}
        if sum(self.counts.values()) != cfg["epoch_size"]:
            raise ValueError(f"shares do not split an epoch exactly: {self.counts}")
        self.vocab = vocabulary(self.r, cfg["vocabulary"])
        self.unique_cities, self.shared_cities = catalog_kinds(catalog)
        self.eval_docs = [
            " ".join(_words(self.r, self.vocab, cfg["eval_words"])) for _ in range(cfg["eval_docs"])
        ]
        self.eval_grams = set().union(*(grams5(d) for d in self.eval_docs))
        self.novel: list[dict] = []
        self.next_id = 0
        self.epoch = 0

    def _novel_body(self) -> tuple[str, list[str], list[tuple[str, str]]]:
        """Body text with planted city mentions; returns (body, ibge ids of
        the unique-name mentions, ibge ids of the UF-qualified shared
        names)."""
        r = self.r
        while True:
            words = _words(r, self.vocab, self.cfg["body_words"])
            plain, qualified, inserts = [], [], []
            for _ in range(int(r.integers(1, 3))):
                e = self.unique_cities[int(r.integers(0, len(self.unique_cities)))]
                inserts.append(["município", "de", e["name"]])
                plain.append(e["ibge_id"])
            if r.random() < 0.5:
                e = self.shared_cities[int(r.integers(0, len(self.shared_cities)))]
                inserts.append(["em", f"{e['name']}-{e['uf']}"])
                qualified.append(e["ibge_id"])
            if r.random() < 0.3:  # a shared name with no state: ambiguous
                e = self.shared_cities[int(r.integers(0, len(self.shared_cities)))]
                inserts.append(["prefeito", "de", e["name"]])
            # distinct positions in the base text, filled back to front, so
            # no insert splits another; lowercase words follow every name
            spots = sorted(r.choice(len(words), len(inserts), replace=False), reverse=True)
            for at, ins in zip(spots, inserts):
                words[at:at] = ins
            if r.random() < 0.5:  # a quoted person for the NER branch
                first, last = (w.capitalize() for w in _words(r, self.vocab, 2))
                words += ["disse", first, last]
            body = " ".join(words)
            if not grams5(body) & self.eval_grams:
                return body, plain, qualified

    def _article(self, family: str, body: str, vec: np.ndarray, origin: int, cities) -> dict:
        doc_id = self.next_id
        self.next_id += 1
        plain, qualified = cities
        portal = PORTALS[doc_id % len(PORTALS)]
        return {
            "doc_id": doc_id,
            "url": f"https://{portal}.example/{self.epoch}/{doc_id}",
            "portal": portal,
            "title": " ".join(_words(self.r, self.vocab, 6)).capitalize(),
            "text": body,
            "published_at": dt.datetime(2024, 3, 1) + dt.timedelta(minutes=doc_id),
            "embedding": [float(x) for x in vec],
            "family": family,
            "origin": origin,
            "cities": list(plain) + list(qualified),
        }

    def next_epoch(self) -> list[dict]:
        """The next epoch's articles, in arrival (shuffled) order."""
        r = self.r
        out = []
        for _ in range(self.counts["novel"]):
            body, plain, qualified = self._novel_body()
            a = self._article("novel", body, unit(self.r), -1, (plain, qualified))
            self.novel.append(a)
            out.append(a)
        for family in FAMILIES[1:]:
            for _ in range(self.counts[family]):
                out.append(self._planted(family, self.novel[int(r.integers(0, len(self.novel)))]))
        self.epoch += 1
        order = r.permutation(len(out))
        return [out[i] for i in order]

    def _planted(self, family: str, orig: dict) -> dict:
        r = self.r
        ovec = np.array(orig["embedding"])
        keep = (orig["cities"], [])
        if family == "repost":
            return self._article(family, orig["text"], ovec, orig["doc_id"], keep)
        if family == "rewrite":  # one word appended: shares 118 of 119 shingles
            body = f"{orig['text']} {self.vocab[int(r.integers(0, len(self.vocab)))]}"
            return self._article(family, body, self._near(ovec), orig["doc_id"], keep)
        if family == "eval_copy":
            body, plain, qualified = self._novel_body()
            src = self.eval_docs[int(r.integers(0, len(self.eval_docs)))].split(" ")
            n = self.cfg["eval_passage_words"]
            at = int(r.integers(0, len(src) - n + 1))
            words = body.split(" ")
            cut = int(r.integers(0, len(words)))
            body = " ".join(words[:cut] + src[at : at + n] + words[cut:])
            return self._article(family, body, unit(self.r), -1, (plain, qualified))
        # paraphrase: new wording, embedding next to the original's
        body, plain, qualified = self._novel_body()
        return self._article(family, body, self._near(ovec), orig["doc_id"], (plain, qualified))

    def _near(self, vec: np.ndarray) -> np.ndarray:
        """``vec`` moved by 1e-3 (cosine ≈ 1 − 5e-7): a hyperplane sits
        between the two with probability ≈ 3e-4 per plane, so the embedding
        screen's one-bit multi-probe finds the pair all but surely."""
        v = vec + 1e-3 * unit(self.r)
        return v / np.linalg.norm(v)


# --- curation corpus ---


def write_curation_corpus(seed: int, cfg: dict, out_dir: str) -> dict:
    """Write ``documents`` and ``embeddings`` for the curation builders
    under ``out_dir``. ``cfg["families"]`` families of
    ``cfg["family_size"]`` near-duplicates are planted among unrelated
    documents: an original of ``cfg["family_words"]`` words, exact copies,
    and one rewrite (the original with a word appended). Returns {"families": [[doc_id, …], …],
    "rewrites": [(original, rewrite), …], "n_docs": …}; doc ids are
    positions in the shuffled corpus."""
    os.makedirs(out_dir, exist_ok=True)
    r = rng_for(seed, "curation")
    vocab = vocabulary(r, cfg["vocabulary"])
    n_docs, fam_n, fam_size = cfg["docs"], cfg["families"], cfg["family_size"]
    n_novel = n_docs - fam_n * (fam_size - 1)
    texts = [
        " ".join(_words(r, vocab, int(r.integers(cfg["min_words"], cfg["max_words"] + 1))))
        for _ in range(n_novel)
    ]
    families, rewrites = [], []
    for f in range(fam_n):
        root = f * (n_novel // fam_n)
        texts[root] = " ".join(_words(r, vocab, cfg["family_words"]))
        members = [root]
        for c in range(fam_size - 1):
            if c == 1:
                rewrites.append((root, len(texts)))
                texts.append(f"{texts[root]} {vocab[int(r.integers(0, len(vocab)))]}")
            else:
                texts.append(texts[root])
            members.append(len(texts) - 1)
        families.append(members)
    order = r.permutation(n_docs)  # doc_id = position in the shuffled corpus
    new_id = {old: int(new) for new, old in enumerate(np.argsort(order))}
    texts = [texts[i] for i in np.argsort(order)]
    families = [sorted(new_id[m] for m in fam) for fam in families]
    rewrites = [(new_id[a], new_id[b]) for a, b in rewrites]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in r.integers(0, len(_LANGS), n_docs)],
            "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(
        _embeddings_table(r, cfg["vectors"], cfg["clusters"]),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    return {"families": families, "rewrites": rewrites, "n_docs": n_docs}


def epoch_bytes(articles: list[dict]) -> bytes:
    """Canonical serialization of one feed epoch (for reproducibility checks)."""
    return json.dumps(articles, default=str, sort_keys=True).encode()
