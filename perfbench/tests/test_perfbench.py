"""Self-tests of the benchmark's generator, checkers and statistics.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math

import pytest

from perfbench import check, gen, stats, trace


def _drops(seed: int) -> list[gen.Drop]:
    c = gen.ZipfCorpus(seed, vocab_size=300)
    return [c.drop(40)] + [c.drop(6, 3, 2) for _ in range(5)]


def test_same_seed_gives_byte_identical_drops(tmp_path):
    a, b = _drops(7), _drops(7)
    assert [d.jsonl() for d in a] == [d.jsonl() for d in b]
    pa, pb = tmp_path / "a", tmp_path / "b"
    pa.mkdir()
    pb.mkdir()
    for i, (x, y) in enumerate(zip(a, b)):
        fa = gen.write_drop(str(pa), i, x)
        fb = gen.write_drop(str(pb), i, y)
        assert open(fa, "rb").read() == open(fb, "rb").read()
    assert [d.jsonl() for d in _drops(8)] != [d.jsonl() for d in a]


def test_drops_keep_the_ordering_contract():
    stamps: dict[int, list[str]] = {}
    for d in _drops(3):
        for r in d.rows:
            stamps.setdefault(r["doc_id"], []).append(r["ingest_ts"])
    every = [t for ts in stamps.values() for t in ts]
    assert len(every) == len(set(every))  # distinct per version
    assert all(ts == sorted(ts) for ts in stamps.values())


def test_headline_tables_are_seeded():
    a, b = gen.headline_tables(5, docs=40), gen.headline_tables(5, docs=40)
    assert all(a[k].equals(b[k]) for k in a)
    assert not gen.headline_tables(6, docs=40)["lineitem"].equals(a["lineitem"])


def _marker_answer(corpus: gen.ZipfCorpus, drop: gen.Drop):
    """The right ad-hoc search answer for a drop's markers."""
    queries = dict(enumerate(sorted(drop.expect)))
    n, avgdl = corpus.stats()
    scores = {m: check.bm25_marker_score(n, avgdl, corpus.current[d].dl)
              for m, d in drop.expect.items() if d is not None}
    rows = [(q, 1, drop.expect[m], scores[m], 1)
            for q, m in queries.items() if drop.expect[m] is not None]
    return rows, queries, scores


@pytest.fixture
def marker_case():
    corpus = gen.ZipfCorpus(11, vocab_size=300)
    corpus.drop(30)
    drop = corpus.drop(4, 3, 2)
    return (drop, *_marker_answer(corpus, drop))


def test_marker_checker_accepts_the_right_answer(marker_case):
    drop, rows, queries, scores = marker_case
    assert check.marker_results(rows, queries, drop.expect, scores) == []


def test_marker_checker_rejects_a_visible_tombstoned_doc(marker_case):
    drop, rows, queries, scores = marker_case
    deleted = {r["doc_id"] for r in drop.rows if r["deleted"]}
    # a tombstoned doc's last marker, still found
    q, m = next((q, m) for q, m in queries.items()
                if drop.expect[m] is None and int(m[1:].split("v")[0]) in deleted)
    bad = rows + [(q, 1, int(m[1:].split("v")[0]), 1.0, 1)]
    assert check.marker_results(bad, queries, drop.expect, scores)


def test_marker_checker_rejects_a_visible_superseded_version(marker_case):
    drop, rows, queries, scores = marker_case
    deleted = {r["doc_id"] for r in drop.rows if r["deleted"]}
    q, m = next((q, m) for q, m in queries.items()
                if drop.expect[m] is None and int(m[1:].split("v")[0]) not in deleted)
    bad = rows + [(q, 1, int(m[1:].split("v")[0]), 1.0, 1)]
    assert check.marker_results(bad, queries, drop.expect, scores)


def test_marker_checker_rejects_a_changed_score(marker_case):
    drop, rows, queries, scores = marker_case
    q, rank, doc, score, n = rows[0]
    bad = [(q, rank, doc, round(score + 1e-6, 6), n)] + rows[1:]
    assert check.marker_results(bad, queries, drop.expect, scores)


def test_marker_score_follows_the_engine_rounding():
    # idf * tf_norm for N=3, avgdl=4, dl=4: 1.666666... * 1.0
    assert check.bm25_marker_score(3, 4.0, 4) == 1.666667


def test_row_comparison_rejects_a_changed_score():
    cols = ["query_id", "rank", "doc_id", "score"]
    want = [(0, 1, 7, 3.25), (0, 2, 9, 1.5)]
    assert check.same_rows(cols, list(reversed(want)), cols, want) == []
    assert check.same_rows(cols, [(0, 1, 7, 3.250001), (0, 2, 9, 1.5)], cols, want)
    assert check.same_rows(cols, want[:1], cols, want)


def test_pinned_columns_reject_a_changed_value():
    rows = [(i, 0.5 * (-1) ** i) for i in range(4)]
    pin = {"rows": 4, "rel_tol": 1e-6, "columns": {"w": (1.0, 2.0)}}
    assert check.pinned_columns(["id", "w"], rows, pin) == []
    rows[0] = (0, 0.51)
    assert check.pinned_columns(["id", "w"], rows, pin)


@pytest.mark.parametrize("n, pct", [(20, 50), (42, 76), (100, 90), (1000, 99)])
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, pct):
    xs = [float(i) for i in range(n, 0, -1)]
    t = stats.tail(xs)
    assert (t["percentile"], t["samples"]) == (pct, n)
    assert sum(x > t["value"] for x in xs) == t["beyond"] >= 10
    # one percentile higher leaves fewer than ten beyond
    if pct < 99:
        assert n - math.ceil((pct + 1) * n / 100) < 10


def test_tail_of_a_small_sample_is_its_maximum():
    t = stats.tail([3.0, 1.0, 2.0])
    assert t == {"value": 3.0, "percentile": 100, "beyond": 0, "samples": 3}


def _node(i, name, metrics=(), stage=None):
    n = {"nodeId": i, "nodeName": name,
         "metrics": [{"name": k, "value": v} for k, v in metrics]}
    if stage is not None:
        n["wholeStageCodegenId"] = stage
    return n


def test_codegen_time_excludes_the_operators_fused_into_it():
    # Scan -> ColumnarToRow -> HashAggregate in pipeline 1, Exchange, Sort
    # in pipeline 2; times as the UI prints them
    execution = {
        "nodes": [
            _node(5, "Scan parquet", [("scan time", "total (min, med, max)\n164 ms (79 ms, 85 ms, 85 ms)")]),
            _node(4, "ColumnarToRow", stage=1),
            _node(3, "HashAggregate", [("time in aggregation build", "269 ms")], stage=1),
            _node(2, "WholeStageCodegen (1)", [("duration", "525 ms")]),
            _node(1, "Sort", [("sort time", "30 ms")], stage=2),
            _node(0, "WholeStageCodegen (2)", [("duration", "38 ms")]),
        ],
        "edges": [{"fromId": 5, "toId": 4}, {"fromId": 4, "toId": 3}, {"fromId": 3, "toId": 1}],
    }
    out = trace.node_rollup(execution)
    assert out["tables.scan_s"] == pytest.approx(0.164)
    assert out["aggregate.build_s"] == pytest.approx(0.269)
    assert out["sort.sort_s"] == pytest.approx(0.030)
    assert out["kernel.codegen_s"] == pytest.approx((0.525 - 0.164 - 0.269) + (0.038 - 0.030))
    assert max(trace.TIME_LAYERS, key=out.get) == "aggregate.build_s"
