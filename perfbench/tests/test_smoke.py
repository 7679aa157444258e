"""A tiny-size run of each workload through the command line's main(),
untraced and traced, in one process (about a minute per run)."""

import json
import os

import pytest

import run
import workloads as wl

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    monkeypatch.setattr(run, "WORK", str(tmp_path / "work"))
    monkeypatch.setattr(wl, "CONSTRUCT_TURNS", 120)
    monkeypatch.setattr(wl, "STREAM_TURNS", 60)
    monkeypatch.setattr(wl, "STREAM_RESENT", 3)
    monkeypatch.setattr(wl, "GRAPH_CONVS", 40)
    monkeypatch.setattr(wl, "GRAPH_COPIES", 4)
    monkeypatch.setattr(wl, "GRAPH_NEAR_COPIES", 2)
    monkeypatch.setattr(run, "EXPECTED", os.devnull + ".absent")


def result(capsys, argv):
    code = run.main(argv)
    lines = capsys.readouterr().out.strip().splitlines()
    meta = json.loads(lines[-2][len("# meta "):])
    return code, json.loads(lines[-1]), meta


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", ["construct_batch", "graph_query"])
def test_untraced_run_prints_every_end_to_end_metric(tiny, capsys, workload):
    code, res, meta = result(capsys, ["--workload", workload, "--seed", "3",
                                      "--seconds", "0", "--trace", "0"])
    assert code == 0, meta["errors"]
    assert res["correct"] and res["attempted"] >= 1 and res["failed"] == 0
    names = [m["name"] for m in bench()["end_to_end"]]
    assert sorted(res["metrics"]) == sorted(names)
    for m in bench()["end_to_end"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
        assert res["metrics"][m["name"]]["value"] > 0
    assert meta["nproc"] >= 1 and meta["pyspark"] and meta["seed"] == 3


def test_traced_write_path_attributes_every_op(tiny, capsys):
    code, res, meta = result(capsys, ["--workload", "construct_batch", "--seed", "3",
                                      "--seconds", "0", "--trace", "1"])
    assert code == 0, meta["errors"]
    assert meta["attribution_errors"] == []
    assert meta["traced_ops"] >= 1 and meta["untraced_ops"] >= 1
    per_layer = bench()["per_layer"]
    assert [m["name"] for m in per_layer] == list(res["metrics"])
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for layer in ("reassemble", "fused", "relations", "checkpoint", "materialize", "linking",
                  "incremental"):
        assert m[f"{layer}.self_s"] > 0 and m[f"{layer}.jobs"] > 0, layer
    assert m["fused.python_bytes_in"] > 0
    assert m["relations.triples_out"] > 0 and m["materialize.nodes_out"] > 0
    assert m["incremental.store_bytes"] > 0 and m["incremental.buckets_touched"] > 0


def test_traced_read_path_measures_dedup_and_queries(tiny, capsys):
    code, res, meta = result(capsys, ["--workload", "graph_query", "--seed", "3",
                                      "--seconds", "0", "--trace", "1"])
    assert code == 0, meta["errors"]
    assert meta["attribution_errors"] == []
    m = {k: v["value"] for k, v in res["metrics"].items()}
    for layer in ("dedup_docs", "chunking", "io", "vectors", "retrieval", "components"):
        assert m[f"{layer}.self_s"] > 0 and m[f"{layer}.jobs"] > 0, layer
    assert m["dedup_docs.minhash_pairs"] > 0 and m["dedup_docs.ngram_pairs"] > 0


def test_without_the_engine_the_command_fails_fast(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    code = run.main(["--workload", "construct_batch", "--seed", "1", "--seconds", "1",
                     "--trace", "0"])
    assert code != 0
    assert capsys.readouterr().out == ""
