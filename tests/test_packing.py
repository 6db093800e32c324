"""CCNet line dedup (operators/dedup.py) and neighbor-Jaccard link
prediction (operators/graph.py)."""

import pytest


# --- remove_duplicated_lines (CCNet line dedup, operators/dedup.py) ---


def test_line_dedup_newline_unit(spark):
    from spacy_llm_spark.operators import dedup

    df = spark.createDataFrame(
        [
            (1, "keep me\nCOPYRIGHT FOOTER\nunique one"),
            (2, "other text\nCOPYRIGHT FOOTER\n  \n"),
            (3, "COPYRIGHT FOOTER"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.remove_duplicated_lines(df, 1).collect()
    }
    assert len(out) == 4  # every doc survives, rewritten
    assert out[1]["clean_text"] == "keep me\nunique one"
    assert out[1]["n_lines_kept"] == 2 and out[1]["n_lines_removed"] == 1
    assert out[2]["clean_text"] == "other text"
    assert out[3]["clean_text"] == "" and out[3]["n_lines_removed"] == 1
    assert out[4]["clean_text"] == "" and out[4]["n_lines_removed"] == 0


def test_line_dedup_within_doc_repeats_count_as_slots(spark):
    """CCNet multiset semantics: a line repeated inside ONE doc already
    exceeds max_occurrences=1 and is removed everywhere."""
    from spacy_llm_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "dup line\nmiddle\ndup line")], ["doc_id", "text"]
    )
    row = dedup.remove_duplicated_lines(df, 1).head()
    assert row["clean_text"] == "middle"
    assert row["n_lines_removed"] == 2
    # raising the threshold keeps them, in original slot order
    row2 = dedup.remove_duplicated_lines(df, 2).head()
    assert row2["clean_text"] == "dup line\nmiddle\ndup line"


def test_line_dedup_token_window_unit(spark):
    from spacy_llm_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f x")], ["doc_id", "text"]
    )
    # window=3: doc1 lines {'a b c','d e f'}, doc2 {'a b c','d e f','x'}
    out = {
        r["doc_id"]: r
        for r in dedup.remove_duplicated_lines(
            df, 1, lines=dedup.token_window_lines("text", 3), delim=" "
        ).collect()
    }
    assert out[1]["clean_text"] == "" and out[1]["n_lines_removed"] == 2
    assert out[2]["clean_text"] == "x" and out[2]["n_lines_kept"] == 1


def test_line_dedup_validates_threshold(spark):
    from spacy_llm_spark.operators import dedup

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        dedup.remove_duplicated_lines(df, 0)


# --- neighbor_jaccard (link prediction, operators/graph.py) ---


def test_neighbor_jaccard_hand_case(spark):
    from spacy_llm_spark.operators import graph

    # square a-b-c-d-a plus chord pivot e linked to a and c
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("e", "a"), ("e", "c")],
        ["subj", "obj"],
    )
    got = {
        (r["id_a"], r["id_b"]): (r["common_neighbors"], r["jaccard"])
        for r in graph.neighbor_jaccard(edges).collect()
    }
    # N(a)={b,d,e}, N(c)={b,d,e} -> common 3, union 3 -> jaccard 1.0
    assert got[("a", "c")] == (3, 1.0)
    # N(b)={a,c}, N(d)={a,c} -> 2/2
    assert got[("b", "d")] == (2, 1.0)
    # N(b)={a,c}, N(e)={a,c} -> 2/2
    assert got[("b", "e")] == (2, 1.0)
    # a-b share neighbor? N(a)={b,d,e}, N(b)={a,c}: common {} -> absent
    assert ("a", "b") not in got


def test_neighbor_jaccard_matches_bruteforce(spark, sf_dir):
    import itertools

    from spacy_llm_spark.operators import graph

    edges = [
        (f"v{i}", f"v{(i * 7 + j) % 23}")
        for i in range(23)
        for j in range(1, 4)
    ]
    df = spark.createDataFrame(edges, ["subj", "obj"])
    nbrs = {}
    for s, d in edges:
        if s != d:
            nbrs.setdefault(s, set()).add(d)
            nbrs.setdefault(d, set()).add(s)
    want = {}
    for a, b in itertools.combinations(sorted(nbrs), 2):
        common = len(nbrs[a] & nbrs[b])
        if common >= 1:
            want[(a, b)] = (common, round(common / len(nbrs[a] | nbrs[b]), 6))
    got = {
        (r["id_a"], r["id_b"]): (r["common_neighbors"], r["jaccard"])
        for r in graph.neighbor_jaccard(df).collect()
    }
    assert got == want


def test_neighbor_jaccard_pivot_cap_is_lower_bound(spark):
    from spacy_llm_spark.operators import graph

    # hub h connects x and y; low-degree pivot p also connects x and y
    edges = spark.createDataFrame(
        [("h", "x"), ("h", "y"), ("h", "z1"), ("h", "z2"), ("h", "z3"),
         ("p", "x"), ("p", "y")],
        ["subj", "obj"],
    )
    exact = {
        (r["id_a"], r["id_b"]): r["common_neighbors"]
        for r in graph.neighbor_jaccard(edges).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["common_neighbors"]
        for r in graph.neighbor_jaccard(edges, max_pivot_degree=2).collect()
    }
    assert exact[("x", "y")] == 2  # via h and via p
    assert capped[("x", "y")] == 1  # hub pivot h (degree 5) excluded
    for k, v in capped.items():
        assert v <= exact[k]
    with pytest.raises(ValueError):
        graph.neighbor_jaccard(edges, min_common=0)
    with pytest.raises(ValueError):
        graph.neighbor_jaccard(edges, max_pivot_degree=0)
