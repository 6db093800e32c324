"""Truth-discovery fusion vs a pure-Python reference."""

import pytest
from pyspark.sql import Row

from spacy_llm_spark.operators.fusion import fuse_facts


def _py_fuse(claims, iters=3, prior=0.8, q=10, cap=0.999999):
    claims = sorted(set(claims))
    trust = {src: prior for src, *_ in claims}
    facts = {}
    for src, s, p, o in claims:
        facts.setdefault((s, p, o), []).append(src)
    conf = {}
    for i in range(iters):
        for f, srcs in facts.items():
            prod = 1.0
            for src in srcs:
                prod *= 1.0 - trust[src]
            conf[f] = round(1.0 - prod, q)
        if i == iters - 1:
            break
        per_src = {}
        for src, s, p, o in claims:
            per_src.setdefault(src, []).append(conf[(s, p, o)])
        trust = {
            src: min(round(sum(v) / len(v), q), cap)
            for src, v in per_src.items()
        }
    out = {}
    for (s, p, o), c in conf.items():
        key = (s, p)
        cand = (-c, o)
        if key not in out or cand < out[key]:
            out[key] = cand
    return {
        (s, p, o): (round(c, 6), len(facts[(s, p, o)]))
        for (s, p), (negc, o) in out.items()
        for c in [-negc]
    }


CLAIMS = [
    # item (e1, ceo): a/b/c agree on x, d alone says y
    ("a", "e1", "ceo", "x"),
    ("b", "e1", "ceo", "x"),
    ("c", "e1", "ceo", "x"),
    ("d", "e1", "ceo", "y"),
    # d is also alone (and contradicted) elsewhere -> its trust decays
    ("d", "e2", "hq", "mars"),
    ("a", "e2", "hq", "berlin"),
    ("b", "e2", "hq", "berlin"),
    # corroborated filler keeps a/b/c trust up
    ("a", "e3", "lang", "de"),
    ("b", "e3", "lang", "de"),
    ("c", "e3", "lang", "de"),
    # duplicate claim must not double-count
    ("a", "e1", "ceo", "x"),
]


def _df(spark, rows):
    return spark.createDataFrame(
        [Row(source=src, subj=s, pred=p, obj=o) for src, s, p, o in rows],
        "source string, subj string, pred string, obj string",
    )


def test_fuse_facts_matches_python_reference(spark):
    # iters=2: round 3 saturates every corroborated fact to 1.0 at
    # 6 dp (probabilistic-OR converges FAST), which would blind the
    # ordering assertions below
    got = {
        (r.subj, r.pred, r.obj): (r.confidence, r.n_sources)
        for r in fuse_facts(_df(spark, CLAIMS), iters=2).collect()
    }
    want = _py_fuse(CLAIMS, iters=2)
    assert set(got) == set(want)
    for k in want:
        assert got[k][1] == want[k][1]
        assert got[k][0] == pytest.approx(want[k][0], abs=1e-8)
    # corroborated facts won over the lone dissenter
    assert ("e1", "ceo", "x") in got and ("e2", "hq", "berlin") in got
    # more corroboration -> higher confidence than the 1-source floor
    assert got[("e1", "ceo", "x")][0] > got[("e2", "hq", "berlin")][0] > 0.8


def test_fuse_facts_trust_asymmetry_beats_majority(spark):
    # two low-trust sources (wrong everywhere else) vs one high-trust
    # source: iteration overturns raw majority for (it, k)
    rows = [
        ("good", "it", "k", "right"),
        ("bad1", "it", "k", "wrong"),
        ("bad2", "it", "k", "wrong"),
    ]
    # good corroborated 3x elsewhere; bads contradicted there
    for i in range(3):
        rows += [
            ("good", f"f{i}", "k", "v"),
            (f"w{i}", f"f{i}", "k", "v"),
            (f"w{i+10}", f"f{i}", "k", "v"),
            ("bad1", f"f{i}", "k", "not-v"),
            ("bad2", f"f{i}", "k", "also-not-v"),
        ]
    got = {
        (r.subj, r.pred): r.obj
        for r in fuse_facts(_df(spark, rows), iters=6).collect()
    }
    want = _py_fuse(rows, iters=6)
    assert got[("it", "k")] == "right"
    assert {(s, p): o for (s, p, o) in want} == got


def test_fuse_facts_ties_and_guards(spark):
    # perfect symmetry: tie breaks toward the smaller object
    rows = [("a", "x", "p", "o2"), ("b", "x", "p", "o1")]
    out = fuse_facts(_df(spark, rows)).collect()
    assert len(out) == 1 and out[0].obj == "o1"
    with pytest.raises(ValueError, match="iters"):
        fuse_facts(_df(spark, rows), iters=0)
    with pytest.raises(ValueError, match="prior"):
        fuse_facts(_df(spark, rows), prior=1.5)
