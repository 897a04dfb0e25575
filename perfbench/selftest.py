"""Self-tests of the benchmark's own parts (no Spark needed):

- the generators are byte-deterministic for a seed and differ across
  seeds;
- every checker accepts the true answer and rejects a tampered one
  (dropped frame, swapped seq, duplicated line, wrong count);
- the ReadLogs frame decoder round-trips the engine's frame codec;
- BENCHMARK.json names exactly the metrics ``run.py`` prints.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import random
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import check  # noqa: E402
import gen  # noqa: E402


def _expect_reject(why) -> None:
    if why is None:
        raise AssertionError("tampered answer was accepted")


def test_backlog_rounds_deterministic():
    a, b, c = (gen.BacklogGen(s, 4, 60) for s in (7, 7, 8))
    for i in range(5):
        fa, ra = a.next_round(i)
        fb, rb = b.next_round(i)
        fc, rc = c.next_round(i)
        assert fa == fb
        assert gen.round_bytes(ra, fa) == gen.round_bytes(rb, fb)
        assert gen.round_bytes(ra, fa) != gen.round_bytes(rc, fc)
    g = gen.BacklogGen(3, 1, 5)
    fmts = [g.next_round(i)[0] for i in range(8)]
    assert fmts[:4].count("jsonl") == 1 and fmts[4:].count("jsonl") == 1


def test_history_deterministic():
    h1, h2 = gen.History(5, 3000, 8, 2), gen.History(5, 3000, 8, 2)
    h3 = gen.History(6, 3000, 8, 2)
    for x, y in zip(h1.halves(), h2.halves()):
        assert gen.round_bytes(x, "plog") == gen.round_bytes(y, "plog")
    assert gen.round_bytes(h1.halves()[0], "plog") != \
        gen.round_bytes(h3.halves()[0], "plog")
    assert gen.read_schedule(1, h1, 60) == gen.read_schedule(1, h2, 60)
    hot = sum(len(h1.recs[c]) for c in h1.hot)
    assert 0.4 < hot / h1.n_rows < 0.6


def test_corpus_deterministic():
    a, b, c = gen.corpus(9, 400), gen.corpus(9, 400), gen.corpus(10, 400)
    assert a[1] == b[1] and a[3] == b[3]
    assert a[2].tobytes() == b[2].tobytes()
    assert a[1] != c[1]
    assert len(a[3]) == 40
    # an exact copy differs from its source only in case and whitespace
    src: dict[str, int] = {}
    for i, t in enumerate(a[1]):
        if i not in set(a[3]):
            src.setdefault(" ".join(t.split()).lower(), i)
    for i in a[3]:
        j = src[" ".join(a[1][i].split()).lower()]
        assert j < i


def test_read_checker():
    h = gen.History(3, 3000, 8, 2)
    for req in gen.read_schedule(2, h, 40):
        exp = gen.expected_answer(h, req)
        lines = [r.stored for r in exp]
        assert check.check_read(lines, exp) is None, req
        if len(lines) >= 4:
            _expect_reject(check.check_read(lines[:-1], exp))
            _expect_reject(check.check_read(lines[1:], exp))
            sw = list(lines)
            sw[1], sw[-2] = sw[-2], sw[1]
            _expect_reject(check.check_read(sw, exp))


def test_wire_decode_roundtrip():
    from client import lines_of
    from logsqlite_spark.sources import frames as fr

    recs = gen.make_records(random.Random(1), "c", 0, 50, gen.EPOCH0_NS,
                            10**6)
    body = b"".join(fr.encode_frame(fr.canonicalize(e))
                    for e in gen.to_entries(recs))
    assert lines_of(body) == [r.stored for r in recs]
    try:
        lines_of(body[:-3])
    except ValueError:
        pass
    else:
        raise AssertionError("truncated body accepted")


def test_live_read_checker():
    lines = [f"{n:07d} 123 lm03 x\n" for n in range(5, 25)]
    assert check.check_live_read(lines, "lm03", 100) is None
    _expect_reject(check.check_live_read(lines[:3] + lines[4:], "lm03", None))
    sw = list(lines)
    sw[2], sw[3] = sw[3], sw[2]
    _expect_reject(check.check_live_read(sw, "lm03", None))
    _expect_reject(check.check_live_read(lines, "lm04", None))
    _expect_reject(check.check_live_read(lines, "lm03", 10))


def test_follow_checker():
    ok = list(range(30))
    assert check.check_follow(ok, 30) is None
    _expect_reject(check.check_follow(ok[:-1], 30))
    _expect_reject(check.check_follow(ok[:10] + ok[11:], 30))
    _expect_reject(check.check_follow(ok[:10] + [9] + ok[10:], 30))
    sw = list(ok)
    sw[4], sw[5] = sw[5], sw[4]
    _expect_reject(check.check_follow(sw, 30))


def test_ingest_and_retention_checkers():
    written = {"a": 10, "b": 3}
    audit = {"a": [10, 1, 10, 10], "b": [3, 1, 3, 3]}
    assert check.check_ingest(audit, written) is None
    _expect_reject(check.check_ingest({**audit, "a": [9, 1, 10, 9]}, written))
    _expect_reject(check.check_ingest({**audit, "a": [10, 1, 11, 10]},
                                      written))
    _expect_reject(check.check_ingest({"a": audit["a"]}, written))
    kept = {"a": [5, 6, 10, 5], "b": [3, 1, 3, 3]}
    assert check.check_retention(kept, written, 5) is None
    _expect_reject(check.check_retention({**kept, "a": [6, 5, 10, 6]},
                                         written, 5))
    _expect_reject(check.check_retention({**kept, "a": [5, 5, 9, 5]},
                                         written, 5))


def test_curation_checker():
    assert check.check_curation([1, 2, 3], [4, 5], [3, 3]) is None
    _expect_reject(check.check_curation([1, 2, 4], [4, 5], [3, 3]))
    _expect_reject(check.check_curation([1, 2, 3], [4, 5], [3, 4]))


def test_benchmark_json_matches_run():
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E)
    assert [m["name"] for m in bench["per_layer"]] == list(run.PER_LAYER)
    for m in bench["end_to_end"]:
        assert m["unit"] == run.E2E[m["name"]]
    for m in bench["per_layer"]:
        assert (m["unit"], m["better"]) == run.PER_LAYER[m["name"]][:2]
    import workloads

    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def main() -> int:
    failed = 0
    for name, fn in list(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"PASS {name}")
            except Exception:  # noqa: BLE001 — report every test
                failed += 1
                print(f"FAIL {name}")
                traceback.print_exc()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
