"""Tests of the seeded input generator: one seed reproduces byte-identical
inputs, and the planted shares come out as the config states.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402

with open(os.path.join(HERE, "config.json")) as f:
    CFG = json.load(f)


def _files(d):
    return {n: open(os.path.join(d, n), "rb").read() for n in sorted(os.listdir(d))}


def test_tables_are_byte_identical_for_one_seed(tmp_path):
    gen.write_tables(7, 0.001, tmp_path / "a")
    gen.write_tables(7, 0.001, tmp_path / "b")
    gen.write_tables(8, 0.001, tmp_path / "c")
    a, b, c = _files(tmp_path / "a"), _files(tmp_path / "b"), _files(tmp_path / "c")
    assert len(a) == 10 and a == b
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def test_article_store_and_corpus_are_byte_identical(tmp_path):
    for d in ("a", "b"):
        cat = gen.city_catalog(7, 500, 0.1)
        gen.write_article_store(gen.article_store_rows(7, 200, cat), tmp_path / f"{d}.parquet")
        gen.write_curation_corpus(7, CFG["curation"], tmp_path / d)
    assert open(tmp_path / "a.parquet", "rb").read() == open(tmp_path / "b.parquet", "rb").read()
    assert _files(tmp_path / "a") == _files(tmp_path / "b")


@pytest.fixture(scope="module")
def feed():
    cat_cfg = CFG["catalog"]
    catalog = gen.city_catalog(7, cat_cfg["rows"], cat_cfg["ambiguous_share"])
    stream = gen.NewsStream(7, catalog, CFG["ingest_epochs"])
    return catalog, stream, [stream.next_epoch() for _ in range(3)]


def test_feed_is_byte_identical_for_one_seed(feed):
    catalog, _stream, epochs = feed
    again = gen.NewsStream(7, catalog, CFG["ingest_epochs"])
    for epoch in epochs:
        assert gen.epoch_bytes(again.next_epoch()) == gen.epoch_bytes(epoch)


def test_catalog_size_and_ambiguous_share(feed):
    catalog, _stream, _epochs = feed
    _unique, shared = gen.catalog_kinds(catalog)
    assert len(catalog) == CFG["catalog"]["rows"] >= 5000
    assert len(shared) == round(CFG["catalog"]["rows"] * CFG["catalog"]["ambiguous_share"])
    assert len({e["ibge_id"] for e in catalog}) == len(catalog)
    for e in shared:  # a shared name sits in two different states
        assert len({x["uf"] for x in shared if x["name"] == e["name"]}) == 2


def test_feed_planted_shares_and_families(feed):
    _catalog, stream, epochs = feed
    cfg = CFG["ingest_epochs"]
    by_id = {a["doc_id"]: a for epoch in epochs for a in epoch}
    for epoch in epochs:
        assert len(epoch) == cfg["epoch_size"]
        for family, share in cfg["shares"].items():
            assert sum(a["family"] == family for a in epoch) == round(share * cfg["epoch_size"])
    for a in by_id.values():
        if a["origin"] >= 0:
            orig = by_id[a["origin"]]
            assert orig["family"] == "novel" and orig["doc_id"] < a["doc_id"]
        if a["family"] == "novel":
            assert not gen.grams5(a["text"]) & stream.eval_grams
        elif a["family"] == "repost":
            assert a["text"] == orig["text"]
        elif a["family"] == "rewrite":  # the original plus one appended word
            head, _, word = a["text"].rpartition(" ")
            assert head == orig["text"] and word in stream.vocab
        elif a["family"] == "eval_copy":
            assert len(gen.grams5(a["text"]) & stream.eval_grams) >= cfg["eval_passage_words"] - 4
        elif a["family"] == "paraphrase":
            v, o = np.array(a["embedding"]), np.array(orig["embedding"])
            assert float(v @ o) >= 1 - 1e-5
            assert not gen.grams5(a["text"]) & gen.grams5(orig["text"])


def test_curation_corpus_families(tmp_path):
    c = CFG["curation"]
    plan = gen.write_curation_corpus(7, c, tmp_path)
    import pyarrow.parquet as pq

    texts = pq.read_table(tmp_path / "documents.parquet").column("text").to_pylist()
    assert len(texts) == plan["n_docs"] == c["docs"]
    assert len(plan["families"]) == c["families"]
    assert all(len(f) == c["family_size"] for f in plan["families"])
    assert len(plan["rewrites"]) == c["families"]
    for fam, (root, rewrite) in zip(plan["families"], plan["rewrites"]):
        assert {root, rewrite} <= set(fam)
        copies = [d for d in fam if d != rewrite]
        assert all(texts[d] == texts[root] for d in copies)
        assert texts[rewrite].rpartition(" ")[0] == texts[root]
    in_family = {d for f in plan["families"] for d in f}
    loose = [texts[d] for d in range(len(texts)) if d not in in_family]
    assert len(set(loose)) == len(loose)
