"""Tier-2 golden-prompt parity: our reference-template renderers must be
byte-identical to the reference's jinja renders (the golden-prompt test
class of reference tests/tasks/test_ner.py:510-640 and
test_entity_linker.py:406-582).

The primary check renders the original jinja templates live (skipped when
the reference checkout or jinja2 isn't available); sha256 goldens pinned
from those renders keep the parity locked in standalone runs.
"""

import hashlib
import os

import pytest

from spacy_llm_spark.templates import (
    render_el_v1_reference,
    render_ner_v3_reference,
    render_rel_v1_reference,
)

_TDIR = "/root/reference/spacy_llm/tasks/templates"

NER_CASES = [
    dict(text="spark join table", labels=["OP", "TABLE", "SYS"]),
    dict(text="x", labels=["OP"], description="Recognize ops."),
    dict(text="x", labels=["A", "B"], label_definitions={"A": "a thing", "B": "b"}),
    dict(
        text="multi line\ntext",
        labels=["A"],
        description="D.",
        label_definitions={"A": "a"},
    ),
]
REL_CASES = [
    dict(text="a[ENT0:OP] b[ENT1:OP]", labels=["precedes", "emits"]),
    dict(text="t", labels=["a", "b"], label_definitions={"a": "da", "b": "db"}),
]
EL_CASES = [
    dict(
        text="*spark* runs",
        mentions=["spark"],
        entity_ids=[["K1", "K2"]],
        entity_descriptions=[["a fast engine", "a plug"]],
    ),
    dict(
        text="*a* and *b*",
        mentions=["a", "b"],
        entity_ids=[["K1"], ["K2", "K3"]],
        entity_descriptions=[["d1"], ["d2", "d3"]],
    ),
]

# sha256 of the reference jinja renders for the cases above, in order —
# pinned so the parity holds even without the reference checkout.
NER_GOLDEN_SHAS = [
    "f20e741eebee4d124eb5657bafd6d6211bd8d95b002ea94b11df90836c30c8f6",
    "bd62199b33ba3c2553e6e35ea3f8d56f410c06177b4705c856ddda9fa18dedac",
    "f2b98f272cd239bd29821734074a976d42c4decad8bca441a2dd464c022f81b3",
    "111599bb0824e975a0fcc44b7b4fb9a1c8df88728308747480b30fb7b06eaba8",
]
REL_GOLDEN_SHAS = [
    "3fe407654f1dd0d9d26dc01437a981143791d6f6c6615bf40101b3d9f2f5c08f",
    "8a79e0a86e4cb02358d11f747df3d6d8516eb546f9afd92656c531cdf1607a9c",
]
EL_GOLDEN_SHAS = [
    "61489b373b6337063cd0fc879b8edd1dc4c2e5f0a85b01fee5332761bb6fb61b",
    "a9a231ef1c9ba99e51d22669a31b292e9096fbca4593e7f3aa08eaffb44fe86d",
]

_have_reference = os.path.isdir(_TDIR)
try:
    import jinja2.sandbox  # noqa: F401

    _have_jinja = True
except ImportError:  # pragma: no cover
    _have_jinja = False


def _jinja_render(template_name: str, **kwargs) -> str:
    import jinja2.sandbox

    kwargs.setdefault("prompt_examples", None)
    with open(os.path.join(_TDIR, template_name)) as f:
        template = jinja2.sandbox.SandboxedEnvironment().from_string(f.read())
    return template.render(**kwargs)


@pytest.mark.skipif(
    not (_have_reference and _have_jinja), reason="reference checkout not present"
)
@pytest.mark.parametrize("case", NER_CASES)
def test_ner_v3_byte_parity_live(case):
    want = _jinja_render(
        "ner.v3.jinja",
        allow_overlap=False,
        description=case.get("description"),
        label_definitions=case.get("label_definitions"),
        text=case["text"],
        labels=case["labels"],
    )
    assert render_ner_v3_reference(**case) == want


@pytest.mark.skipif(
    not (_have_reference and _have_jinja), reason="reference checkout not present"
)
@pytest.mark.parametrize("case", REL_CASES)
def test_rel_v1_byte_parity_live(case):
    want = _jinja_render(
        "rel.v1.jinja",
        label_definitions=case.get("label_definitions"),
        text=case["text"],
        labels=case["labels"],
    )
    assert render_rel_v1_reference(**case) == want


@pytest.mark.skipif(
    not (_have_reference and _have_jinja), reason="reference checkout not present"
)
@pytest.mark.parametrize("case", EL_CASES)
def test_el_v1_byte_parity_live(case):
    want = _jinja_render(
        "entity_linker.v1.jinja",
        text=case["text"],
        mentions=case["mentions"],
        mentions_str=", ".join(f"*{m}*" for m in case["mentions"]),
        entity_ids=case["entity_ids"],
        entity_descriptions=case["entity_descriptions"],
    )
    assert render_el_v1_reference(**case) == want


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def test_golden_shas_standalone():
    assert [_sha(render_ner_v3_reference(**c)) for c in NER_CASES] == NER_GOLDEN_SHAS
    assert [_sha(render_rel_v1_reference(**c)) for c in REL_CASES] == REL_GOLDEN_SHAS
    assert [_sha(render_el_v1_reference(**c)) for c in EL_CASES] == EL_GOLDEN_SHAS


# ---- few-shot example paths -------------------------------------------------

NER_EX_CASES = [
    dict(
        text="T",
        labels=["OP"],
        prompt_examples=[
            {"text": "e1", "spans": [
                {"text": "a", "is_entity": True, "label": "OP", "reason": "r1"}]},
            {"text": "e2", "spans": [
                {"text": "b", "is_entity": True, "label": "OP", "reason": "r2"},
                {"text": "c", "is_entity": False, "label": "==NONE==", "reason": "r3"}]},
        ],
    ),
    dict(
        text="T",
        labels=["OP"],
        description="D.",
        label_definitions={"A": "a"},
        prompt_examples=[
            {"text": "e1", "spans": [
                {"text": "a", "is_entity": True, "label": "OP", "reason": "r1"}]},
        ],
    ),
    dict(
        text="T", labels=["OP"], description="D.",
        prompt_examples=[{"text": "e", "spans": []}],
    ),
    dict(
        text="T", labels=["OP"], label_definitions={"A": "a"},
        prompt_examples=[{"text": "e", "spans": []}],
    ),
]
REL_EX_CASES = [
    dict(
        text="t",
        labels=["x", "y"],
        prompt_examples=[
            {"preannotated": "p1", "relations": [
                {"dep": 0, "dest": 1, "relation": "x"},
                {"dep": 1, "dest": 2, "relation": "y"}]},
            {"preannotated": "p2", "relations": []},
        ],
    ),
    dict(
        text="t", labels=["x"], label_definitions={"x": "dx"},
        prompt_examples=[{"preannotated": "p", "relations": [
            {"dep": 0, "dest": 1, "relation": "x"}]}],
    ),
]
EL_EX_CASES = [
    dict(
        text="*m* z", mentions=["m"], entity_ids=[["KM"]],
        entity_descriptions=[["dm"]],
        prompt_examples=[
            {"text": "*a* *b*", "mentions": ["a", "b"],
             "entity_ids": [["K1"], ["K2"]],
             "entity_descriptions": [["d1"], ["d2"]],
             "reasons": ["ra", ""], "solutions": ["K1", "K2"]},
            {"text": "*c* w", "mentions": ["c"],
             "entity_ids": [["K3", "K4"]],
             "entity_descriptions": [["d3", "d4"]],
             "reasons": [], "solutions": ["K4"]},
        ],
    ),
]


class _Span:
    def __init__(self, d):
        self.text, self.is_entity = d["text"], d["is_entity"]
        self.label, self.reason = d["label"], d["reason"]

    def to_str(self, sep="|"):
        return f"{self.text} {sep} {self.is_entity} {sep} {self.label} {sep} {self.reason}"


def _ner_jinja_examples(case):
    from types import SimpleNamespace as NS

    return [
        NS(text=e["text"], spans=[_Span(s) for s in e["spans"]])
        for e in case["prompt_examples"]
    ]


@pytest.mark.skipif(
    not (_have_reference and _have_jinja), reason="reference checkout not present"
)
@pytest.mark.parametrize("case", NER_EX_CASES)
def test_ner_v3_example_path_parity(case):
    want = _jinja_render(
        "ner.v3.jinja",
        allow_overlap=False,
        description=case.get("description"),
        label_definitions=case.get("label_definitions"),
        text=case["text"],
        labels=case["labels"],
        prompt_examples=_ner_jinja_examples(case),
    )
    assert render_ner_v3_reference(**case) == want


@pytest.mark.skipif(
    not (_have_reference and _have_jinja), reason="reference checkout not present"
)
@pytest.mark.parametrize("case", REL_EX_CASES)
def test_rel_v1_example_path_parity(case):
    import json
    from types import SimpleNamespace as NS

    class _R:
        def __init__(self, d):
            self.d = d

        def model_dump_json(self):
            return json.dumps(self.d, separators=(",", ":"))

    examples = [
        NS(preannotated=e["preannotated"], relations=[_R(r) for r in e["relations"]])
        for e in case["prompt_examples"]
    ]
    want = _jinja_render(
        "rel.v1.jinja",
        label_definitions=case.get("label_definitions"),
        text=case["text"],
        labels=case["labels"],
        prompt_examples=examples,
        preannotate=lambda e: e.preannotated,
    )
    assert render_rel_v1_reference(**case) == want


@pytest.mark.skipif(
    not (_have_reference and _have_jinja), reason="reference checkout not present"
)
@pytest.mark.parametrize("case", EL_EX_CASES)
def test_el_v1_example_path_parity(case):
    from types import SimpleNamespace as NS

    examples = [
        NS(
            text=e["text"],
            mention_str=", ".join(f"*{m}*" for m in e["mentions"]),
            mentions=e["mentions"],
            entity_ids=e["entity_ids"],
            entity_descriptions=e["entity_descriptions"],
            reasons=e["reasons"],
            solutions=e["solutions"],
        )
        for e in case["prompt_examples"]
    ]
    want = _jinja_render(
        "entity_linker.v1.jinja",
        text=case["text"],
        mentions=case["mentions"],
        mentions_str=", ".join(f"*{m}*" for m in case["mentions"]),
        entity_ids=case["entity_ids"],
        entity_descriptions=case["entity_descriptions"],
        prompt_examples=examples,
    )
    assert render_el_v1_reference(**case) == want


from spacy_llm_spark.templates import render_spancat_v3_reference  # noqa: E402


@pytest.mark.skipif(
    not (_have_reference and _have_jinja), reason="reference checkout not present"
)
@pytest.mark.parametrize("case", NER_CASES + NER_EX_CASES)
def test_spancat_v3_byte_parity(case):
    examples = (
        _ner_jinja_examples(case) if case.get("prompt_examples") else None
    )
    want = _jinja_render(
        "spancat.v3.jinja",
        allow_overlap=True,
        description=case.get("description"),
        label_definitions=case.get("label_definitions"),
        text=case["text"],
        labels=case["labels"],
        prompt_examples=examples,
    )
    assert render_spancat_v3_reference(**case) == want


from spacy_llm_spark.templates import render_ner_v2_reference  # noqa: E402

NER_V2_CASES = [
    dict(text="T", labels=["OP", "SYS"]),
    dict(text="T", labels=["OP"], label_definitions={"OP": "op"}),
    dict(text="T", labels=["OP"],
         prompt_examples=[{"text": "x", "entities": {"OP": ["a", "b"]}}]),
    dict(text="T", labels=["OP"], label_definitions={"OP": "op"},
         prompt_examples=[
             {"text": "x", "entities": {"OP": ["a", "b"], "SYS": ["c"]}},
             {"text": "y", "entities": {}}]),
]


@pytest.mark.skipif(
    not (_have_reference and _have_jinja), reason="reference checkout not present"
)
@pytest.mark.parametrize("case", NER_V2_CASES)
def test_ner_v2_byte_parity(case):
    from types import SimpleNamespace as NS

    examples = case.get("prompt_examples")
    want = _jinja_render(
        "ner.v2.jinja",
        text=case["text"],
        labels=case["labels"],
        label_definitions=case.get("label_definitions"),
        prompt_examples=[NS(**e) for e in examples] if examples else None,
    )
    assert render_ner_v2_reference(**case) == want


from spacy_llm_spark.templates import (  # noqa: E402
    render_ner_v1_reference,
    render_spancat_v1_reference,
    render_spancat_v2_reference,
)

NER_V1_CASES = [
    dict(text="T", labels=["OP", "SYS"]),
    dict(text="T", labels=["OP"],
         prompt_examples=[
             {"text": "x", "entities": {"OP": ["a", "b"]}},
             {"text": "y", "entities": {}}]),
]


@pytest.mark.skipif(
    not (_have_reference and _have_jinja), reason="reference checkout not present"
)
@pytest.mark.parametrize("tmpl,fn", [
    ("ner.v1.jinja", render_ner_v1_reference),
    ("spancat.v1.jinja", render_spancat_v1_reference),
])
@pytest.mark.parametrize("case", NER_V1_CASES)
def test_v1_span_template_byte_parity(tmpl, fn, case):
    from types import SimpleNamespace as NS

    examples = case.get("prompt_examples")
    want = _jinja_render(
        tmpl,
        text=case["text"],
        labels=case["labels"],
        prompt_examples=[NS(**e) for e in examples] if examples else None,
    )
    assert fn(**case) == want


@pytest.mark.skipif(
    not (_have_reference and _have_jinja), reason="reference checkout not present"
)
@pytest.mark.parametrize("case", NER_V2_CASES)
def test_spancat_v2_byte_parity(case):
    from types import SimpleNamespace as NS

    examples = case.get("prompt_examples")
    want = _jinja_render(
        "spancat.v2.jinja",
        text=case["text"],
        labels=case["labels"],
        label_definitions=case.get("label_definitions"),
        prompt_examples=[NS(**e) for e in examples] if examples else None,
    )
    assert render_spancat_v2_reference(**case) == want
