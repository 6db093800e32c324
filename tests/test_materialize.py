"""Golden rows for the KG output tables built from a hand-made annotated
frame: exact rows and schemas of ``edges_table``, ``links_table`` and
``canonical_edges``, so a rewrite of their projections cannot change a
value, a column, a type or a nullability."""

from spacy_llm_spark.operators import canonicalize as canon
from spacy_llm_spark.operators import materialize as mat

ANNOTATED_SCHEMA = (
    "doc_id long, content_sha256 string, "
    "ents array<struct<start:int,end:int,label:string,surface:string>>, "
    "rels array<struct<dep:int,dest:int,relation:string>>, "
    "kb_ids array<string>"
)

ENTS = [
    (0, 4, "OP", "Join"),  # linked
    (10, 20, "TABLE", " Customer "),  # NIL, padded
    (21, 32, "SYS", "  Spark SQL"),  # null kb_id, padded, mixed case
]


def _annotated(spark):
    return spark.createDataFrame(
        [
            (
                1,
                "a",
                ENTS,
                [(0, 1, "reads"), (1, 2, "runs_on"), (2, 0, "executes")],
                ["op:join", "NIL", None],
            ),
            (2, "b", [], [], []),  # nothing extracted
            (3, "c", None, None, None),  # null annotations
        ],
        ANNOTATED_SCHEMA,
    )


def _nullable(df):
    return [f.nullable for f in df.schema.fields]


def test_edges_table_golden(spark):
    edges = mat.edges_table(_annotated(spark))
    assert edges.schema.simpleString() == (
        "struct<doc_id:bigint,content_sha256:string,rel_idx:int,subj:string,"
        "pred:string,obj:string,subj_surface:string,obj_surface:string,"
        "subj_label:string,obj_label:string>"
    )
    assert _nullable(edges) == [True, True, False] + [True] * 7
    assert sorted(tuple(r) for r in edges.collect()) == [
        (1, "a", 0, "op:join", "reads", "surface:customer",
         "Join", " Customer ", "OP", "TABLE"),
        (1, "a", 1, "surface:customer", "runs_on", "surface:spark sql",
         " Customer ", "  Spark SQL", "TABLE", "SYS"),
        (1, "a", 2, "surface:spark sql", "executes", "op:join", "  Spark SQL", "Join", "SYS", "OP"),
    ]


def test_links_table_golden(spark):
    links = mat.links_table(_annotated(spark))
    assert links.schema.simpleString() == (
        "struct<doc_id:bigint,content_sha256:string,ent_idx:int,start:int,"
        "end:int,label:string,surface:string,kb_id:string>"
    )
    assert _nullable(links) == [True, True, False] + [True] * 5
    assert sorted(tuple(r) for r in links.collect()) == [
        (1, "a", 0, 0, 4, "OP", "Join", "op:join"),
        (1, "a", 1, 10, 20, "TABLE", " Customer ", "NIL"),
        (1, "a", 2, 21, 32, "SYS", "  Spark SQL", None),
    ]


def test_canonical_edges_golden(spark):
    edges = mat.edges_table(_annotated(spark), ("doc_id",))
    vertices = spark.createDataFrame(
        [("op:join", "op:join"), ("surface:customer", "op:join")],
        "node string, component string",
    )
    for threshold in (None, 0):  # broadcast hint and no hint
        out = canon.canonical_edges(edges, vertices, broadcast_threshold=threshold)
        assert out.schema.simpleString() == (
            "struct<subj:string,pred:string,obj:string,doc_id:bigint,rel_idx:int,"
            "subj_surface:string,obj_surface:string,subj_label:string,obj_label:string>"
        )
        assert sorted(tuple(r)[:5] for r in out.collect()) == [
            ("op:join", "reads", "op:join", 1, 0),
            ("op:join", "runs_on", "surface:spark sql", 1, 1),
            ("surface:spark sql", "executes", "op:join", 1, 2),
        ]
