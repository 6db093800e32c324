"""Prompt renderers (M1/M2) — vectorized, executor-side.

The reference renders sandboxed Jinja2 templates per shard
(spacy_llm/tasks/builtin_task.py:57-97). Our prompts are our own format
(this engine runs only local deterministic models, X5); what must match the
reference is the *response grammar* each parser consumes, not the prompt
bytes. Renderers are plain f-string builders compiled once per executor and
applied over pandas Series inside the stage kernels — no per-row Python
through the driver.

Prompt text is delimited with sentinel fences so the local models can
recover it robustly:  <<<DOC>>> ... <<<END>>>.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

TEXT_OPEN = "<<<DOC>>>"
TEXT_CLOSE = "<<<END>>>"


def _labels_block(labels: Sequence[str], definitions: Optional[Dict[str, str]]) -> str:
    out = f"Labels: {', '.join(labels)}\n"
    if definitions:
        for label in labels:
            if label in definitions:
                out += f"{label}: {definitions[label]}\n"
    return out


def render_ner_prompt(
    text: str,
    labels: Sequence[str],
    definitions: Optional[Dict[str, str]] = None,
    examples: Optional[List[dict]] = None,
) -> str:
    """NER v3 (CoT) prompt. Expected response grammar (parsed by P3):
    ``N. <span text> | <True/False> | <LABEL> | <reason>`` per line.
    """
    parts = [
        "You are an expert Named Entity Recognition (NER) system.",
        "List every entity span occurring in the text, one per line, as:",
        "N. span text | True | LABEL | reason",
        _labels_block(labels, definitions),
    ]
    for ex in examples or []:
        lines = "\n".join(
            f"{i + 1}. {s['text']} | {s['is_entity']} | {s['label']} | {s['reason']}"
            for i, s in enumerate(ex.get("spans", []))
        )
        parts.append(f"Example text:\n{TEXT_OPEN}\n{ex['text']}\n{TEXT_CLOSE}\nAnswer:\n{lines}")
    parts.append(f"Text:\n{TEXT_OPEN}\n{text}\n{TEXT_CLOSE}\nAnswer:")
    return "\n\n".join(parts)


def render_rel_prompt(
    preannotated_text: str,
    labels: Sequence[str],
    definitions: Optional[Dict[str, str]] = None,
    examples: Optional[List[dict]] = None,
) -> str:
    """REL v1 prompt over pre-annotated text ([ENTi:LABEL] markers, M3).
    Expected response grammar (P5): one JSON object per line
    ``{"dep": 0, "dest": 1, "relation": "LivesIn"}``.
    """
    parts = [
        "You are an expert Relation Extraction system.",
        "Entities are marked inline as [ENT<i>:<label>]. Emit one JSON object "
        'per relation, per line: {"dep": <i>, "dest": <j>, "relation": "<label>"}.',
        _labels_block(labels, definitions),
    ]
    for ex in examples or []:
        rels = "\n".join(
            f'{{"dep": {r["dep"]}, "dest": {r["dest"]}, "relation": "{r["relation"]}"}}'
            for r in ex.get("relations", [])
        )
        parts.append(
            f"Example text:\n{TEXT_OPEN}\n{ex['text']}\n{TEXT_CLOSE}\nAnswer:\n{rels}"
        )
    parts.append(f"Text:\n{TEXT_OPEN}\n{preannotated_text}\n{TEXT_CLOSE}\nAnswer:")
    return "\n\n".join(parts)


def render_el_prompt(
    highlighted_text: str,
    mentions: Sequence[str],
    candidates: Sequence[Sequence[Tuple[str, str]]],  # per mention: [(qid, desc)]
    examples: Optional[List[dict]] = None,
) -> str:
    """EL v1 prompt: highlighted text + per-mention candidate blocks
    (mirrors tasks/entity_linker/task.py:137-186 prompt data). Expected
    response grammar (P6): per mention a line ``*mention* ::: <QID>``.
    """
    parts = [
        "You are an expert Entity Linking system.",
        "For each mention (wrapped in *...*), pick the correct entity ID from "
        "its candidates. Answer one line per mention: *mention* ::: <QID>. "
        "Use <NIL> when no candidate fits.",
    ]
    for ex in examples or []:
        sol = "\n".join(
            f"*{m}* ::: <{s}>" for m, s in zip(ex.get("mentions", []), ex.get("solutions", []))
        )
        parts.append(
            f"Example text:\n{TEXT_OPEN}\n{ex['text']}\n{TEXT_CLOSE}\nSolutions:\n{sol}"
        )
    mention_str = ", ".join(f"*{m}*" for m in mentions)
    cand_lines = []
    for mention, cands in zip(mentions, candidates):
        cand_lines.append(f"- For *{mention}*:")
        for qid, desc in cands:
            cand_lines.append(f"    {qid}. {desc}")
    parts.append(
        f"Text:\n{TEXT_OPEN}\n{highlighted_text}\n{TEXT_CLOSE}\n"
        f"Mentions: {mention_str}\nCandidates:\n" + "\n".join(cand_lines) + "\nSolutions:"
    )
    return "\n\n".join(parts)


# ---------------------------------------------------------------------------
# Reference-template byte parity (tier-2 golden-prompt tests)
# ---------------------------------------------------------------------------
# The renderers below reproduce the reference's jinja templates
# (spacy_llm/tasks/templates/{ner.v3,rel.v1,entity_linker.v1}.jinja,
# rendered via builtin_task.py:57-97) BYTE-FOR-BYTE for the no-example
# paths, re-derived as plain string builders — pinned by parity tests that
# render the original jinja side-by-side. They exist for prompt-parity
# with the reference (golden-prompt test class, reference
# tests/tasks/test_ner.py:510-640); the engine's own fenced format above
# remains the default because the local deterministic models recover the
# doc from the fences.

_NER_V3_HEADER = (
    "You are an expert Named Entity Recognition (NER) system.\n"
    "Your task is to accept Text as input and extract named entities.\n"
    "Entities must have one of the following labels: {labels}.\n"
    "If a span is not an entity label it: `==NONE==`.\n"
)
_NER_V3_DEFS_INTRO = (
    "Below are definitions of each label to help aid you in what kinds of "
    "named entities to extract for each label.\n"
    "Assume these definitions are written by an expert and follow them closely.\n"
)
_NER_V3_BUILTIN_EXAMPLE = (
    "Here is an example of the output format for a paragraph using different "
    "labels than this task requires.\n"
    "Only use this output format but use the labels provided\n"
    "above instead of the ones defined in the example below.\n"
    "Do not output anything besides entities in this output format.\n"
    "Output entities in the order they occur in the input paragraph "
    "regardless of label.\n\n"
    "Q: Given the paragraph below, identify a list of entities, and for each "
    "entry explain why it is or is not an entity:\n\n"
    "Paragraph: Sriracha sauce goes really well with hoisin stir fry, but you "
    "should add it after you use the wok.\n"
    "Answer:\n"
    "1. Sriracha sauce | True | INGREDIENT | is an ingredient to add to a stir fry\n"
    "2. really well | False | ==NONE== | is a description of how well sriracha "
    "sauce goes with hoisin stir fry\n"
    "3. hoisin stir fry | True | DISH | is a dish with stir fry vegetables and "
    "hoisin sauce\n"
    "4. wok | True | EQUIPMENT | is a piece of cooking equipment used to stir "
    "fry ingredients\n\n"
)


_NER_V3_Q = (
    "Q: Given the paragraph below, identify a list of entities, and for each "
    "entry explain why it is or is not an entity:\n\n"
)


_SPANCAT_V3_HEADER = (
    "You are an expert Entity Recognition system.\n"
    "Your task is to accept Text as input and extract named entities.\n"
    "The entities you extract can overlap with each other.\n\n"
    "Entities must have one of the following labels: {labels}.\n"
    "If a span is not an entity label it: `==NONE==`.\n"
)


def render_ner_v3_reference(
    text: str,
    labels: Sequence[str],
    description: Optional[str] = None,
    label_definitions: Optional[Dict[str, str]] = None,
    prompt_examples: Optional[List[dict]] = None,
    _header: str = _NER_V3_HEADER,
    _branch_nl: str = "",
) -> str:
    """Byte-parity render of ner.v3.jinja. ``prompt_examples``: list of
    {"text": ..., "spans": [{"text", "is_entity", "label", "reason"}]} —
    the span line format is the reference SpanExample.to_str()
    (span/examples.py:60-67)."""
    out = _header.format(labels=", ".join(labels))
    if description:
        out += "\n\n" + description + "\n"
    if label_definitions:
        if not description:
            out += "\n"
        out += _NER_V3_DEFS_INTRO
        for label, definition in label_definitions.items():
            out += f"{label}: {definition}\n"
    if prompt_examples:
        if label_definitions or not description:
            out += "\n"
        out += _branch_nl
        out += _NER_V3_Q
        for ex in prompt_examples:
            out += f"Paragraph: {ex['text']}\nAnswer:\n"
            for i, sp in enumerate(ex["spans"], start=1):
                out += (
                    f"{i}. {sp['text']} | {sp['is_entity']} | {sp['label']} "
                    f"| {sp['reason']}\n"
                )
            out += "\n"
    else:
        out += "\n" if (description and not label_definitions) else "\n\n"
        out += _branch_nl
        out += _NER_V3_BUILTIN_EXAMPLE
    out += f"Paragraph: {text}\nAnswer:"
    return out


def render_spancat_v3_reference(
    text: str,
    labels: Sequence[str],
    description: Optional[str] = None,
    label_definitions: Optional[Dict[str, str]] = None,
    prompt_examples: Optional[List[dict]] = None,
) -> str:
    """Byte-parity render of spancat.v3.jinja — the ner.v3 layout with the
    overlap-allowing header and one extra branch newline (the template's
    non-whitespace-trimmed ``{% if %}``)."""
    return render_ner_v3_reference(
        text,
        labels,
        description=description,
        label_definitions=label_definitions,
        prompt_examples=prompt_examples,
        _header=_SPANCAT_V3_HEADER,
        _branch_nl="\n",
    )


_REL_V1_HEADER = (
    "The text below contains pre-extracted entities, denoted in the following "
    "format within the text:\n\n"
    "<entity text>[ENT<entity id>:<entity label>]\n\n"
    "From the text below, extract the following relations between entities:\n\n"
)
_REL_V1_FORMAT = (
    "\nThe extraction has to use the following format, with one line for each "
    "detected relation:\n\n"
    '{"dep": <entity id>, "dest": <entity id>, "relation": <relation label>}\n\n'
    "Make sure that only relevant relations are listed, and that each line is "
    "a valid JSON object.\n"
)
_REL_V1_DEFS_INTRO = (
    "Below are definitions of each label to help aid you in what kinds of "
    "relationship to extract for each label.\n"
    "Assume these definitions are written by an expert and follow them closely.\n\n"
)


def render_rel_v1_reference(
    text: str,
    labels: Sequence[str],
    label_definitions: Optional[Dict[str, str]] = None,
    prompt_examples: Optional[List[dict]] = None,
) -> str:
    """Byte-parity render of rel.v1.jinja; ``text`` is the pre-annotated
    document ([ENTi:LABEL] markers). ``prompt_examples``: list of
    {"preannotated": ..., "relations": [{"dep", "dest", "relation"}]} —
    relation lines are pydantic-v2 model_dump_json (compact separators)."""
    import json as _json

    out = _REL_V1_HEADER
    for label in labels:
        out += f"{label}\n"
    out += _REL_V1_FORMAT
    if label_definitions:
        out += _REL_V1_DEFS_INTRO
        for label, definition in label_definitions.items():
            out += f"{label}: {definition}\n"
        out += "\n"
    if prompt_examples:
        out += "Below are some examples (only use these as a guide):\n\n"
        for ex in prompt_examples:
            out += f"Text:\n'''\n{ex['preannotated']}\n'''\n"
            for r in ex["relations"]:
                out += "\n" + _json.dumps(
                    {"dep": r["dep"], "dest": r["dest"], "relation": r["relation"]},
                    separators=(",", ":"),
                )
            out += "\n\n"
        out += "\n"
    out += f"Here is the text that needs labeling:\n\nText:\n'''\n{text}\n'''"
    return out


_EL_V1_HEADER = (
    "For each of the MENTIONS in the TEXT, resolve the MENTION to the correct "
    "entity listed in ENTITIES.\n"
    "Each of the ENTITIES is prefixed by its ENTITY ID. Each of the MENTIONS "
    "in the TEXT is surrounded by *.\n"
    "For each of the MENTIONS appearing in the text, output the ID of the "
    "description fitting them best.\n"
    "This ID has to be surrounded by single <>, for example <1>. Make sure "
    "you make a choice for each MENTION. If no\n"
    "candidate seems plausible, respond with <NIL> instead of an ENTITY ID.\n"
    'Output "REASONING:". Describe, step by step, which MENTION should be '
    "linked to which ENTITY ID.\n"
    'Output "SOLUTION:". After that, list the correct ENTITY ID (or NIL) per '
    "MENTION. Wrap the ENTITY ID in <>. Each ENTITY ID\n"
    'should be in a new line, prefixed by the corresponding MENTION and " ::: ".\n\n'
)


def _el_entities_block(mentions, entity_ids, entity_descriptions) -> str:
    out = ""
    for mention, ids, descs in zip(mentions, entity_ids, entity_descriptions):
        out += f"\n- For *{mention}*:"
        for qid, desc in zip(ids, descs):
            out += f"\n    {qid}. {desc}"
    return out


def render_el_v1_reference(
    text: str,
    mentions: Sequence[str],
    entity_ids: Sequence[Sequence[str]],
    entity_descriptions: Sequence[Sequence[str]],
    prompt_examples: Optional[List[dict]] = None,
) -> str:
    """Byte-parity render of entity_linker.v1.jinja; ``text`` is the
    highlighted document (*mention* markers), ``entity_ids``/
    ``entity_descriptions`` one list per in-prompt mention
    (task.py:137-186 prompt data). ``prompt_examples``: list of
    {"text", "mentions", "entity_ids", "entity_descriptions",
    "reasons", "solutions"} — empty reasons (list or entries) fall back
    to the template's canned sentence."""
    out = _EL_V1_HEADER
    if prompt_examples:
        out += "Below are some examples (only use these as a guide):\n"
        for ex in prompt_examples:
            out += f"\nTEXT:\n'''\n{ex['text']}\n'''\n"
            out += "MENTIONS: " + ", ".join(f"*{m}*" for m in ex["mentions"]) + "\n"
            out += "ENTITIES:" + _el_entities_block(
                ex["mentions"], ex["entity_ids"], ex["entity_descriptions"]
            )
            out += "\nREASONING:"

            def fallback(i, ex=ex):
                return (
                    f"- The description of the chosen entity {ex['solutions'][i]} "
                    f"fits the presented mention *{ex['mentions'][i]}* best."
                )

            reasons = ex.get("reasons") or []
            if reasons:
                lines = [
                    f"- {r}" if r else fallback(i) for i, r in enumerate(reasons)
                ]
                out += "\n" + "\n".join(lines) + "\n\n"
            else:
                for i in range(len(ex["mentions"])):
                    out += "\n" + fallback(i)
                out += "\n"
            out += "SOLUTION:"
            for i, sol in enumerate(ex["solutions"]):
                out += f"\n*{ex['mentions'][i]}* ::: <{sol}>"
            out += "\n"
        out += "\n\nEnd of examples."
    out += f"TEXT: \n'''\n{text}\n'''\n"
    out += "MENTIONS: " + ", ".join(f"*{m}*" for m in mentions) + "\n"
    out += "ENTITIES:" + _el_entities_block(mentions, entity_ids, entity_descriptions)
    return out


_EXAMPLES_GUIDE = "Below are some examples (only use these as a guide):\n"
_NER_V2_HEADER = (
    "You are an expert Named Entity Recognition (NER) system. Your task "
    "is to accept Text as input and extract named entities for the set "
    "of predefined entity labels.\n"
    "From the Text input provided, extract named entities for each label "
    "in the following format:\n\n"
)
_SPANCAT_V2_HEADER = (
    "You are an expert Named Entity Recognition (NER) system. Your task "
    "is to accept Text as input and extract named entities for the set "
    "of predefined entity labels.\n"
    "The entities you extract for each label can overlap with each other.\n"
    "From the Text input provided, extract named entities for each label "
    "in the following format:\n\n"
)


def render_ner_v1_reference(
    text: str,
    labels: Sequence[str],
    prompt_examples: Optional[List[dict]] = None,
    _first_line: str = (
        "From the text below, extract the following entities in the "
        "following format:"
    ),
) -> str:
    """Byte-parity render of ner.v1.jinja. ``prompt_examples``: list of
    {"text": ..., "entities": {label: [substring, ...]}}."""
    out = _first_line + "\n"
    for label in labels:
        out += f"{label}: <comma delimited list of strings>\n"
    if prompt_examples:
        out += "\n" + _EXAMPLES_GUIDE + "\n"
        for ex in prompt_examples:
            out += f"\nText:\n'''\n{ex['text']}\n'''\n"
            for label, substrings in ex["entities"].items():
                out += f"{label}: {', '.join(substrings)}\n"
            out += "\n"
    out += f"\nHere is the text that needs labeling:\n\nText:\n'''\n{text}\n'''"
    return out


def render_spancat_v1_reference(
    text: str,
    labels: Sequence[str],
    prompt_examples: Optional[List[dict]] = None,
) -> str:
    """Byte-parity render of spancat.v1.jinja (ner.v1 with the
    possibly-overlapping wording)."""
    return render_ner_v1_reference(
        text,
        labels,
        prompt_examples=prompt_examples,
        _first_line=(
            "From the text below, extract the following (possibly "
            "overlapping) entities in the following format:"
        ),
    )


def render_ner_v2_reference(
    text: str,
    labels: Sequence[str],
    label_definitions: Optional[Dict[str, str]] = None,
    prompt_examples: Optional[List[dict]] = None,
    _header: str = _NER_V2_HEADER,
) -> str:
    """Byte-parity render of ner.v2.jinja (the 'LABEL: phrase, phrase'
    grammar our span_format='v2' stage parses). ``prompt_examples``:
    list of {"text": ..., "entities": {label: [substring, ...]}}."""
    out = _header
    for label in labels:
        out += f"{label}: <comma delimited list of strings>\n"
    if label_definitions:
        # v2 (unlike v3) puts a blank line between the intro and the defs
        out += "\n" + _NER_V3_DEFS_INTRO + "\n"
        for label, definition in label_definitions.items():
            out += f"{label}: {definition}\n"
    out += "\n\n"
    if prompt_examples:
        out += _EXAMPLES_GUIDE + "\n"
        for ex in prompt_examples:
            out += f"Text:\n'''\n{ex['text']}\n'''\n"
            for label, substrings in ex["entities"].items():
                out += f"\n{label}: {', '.join(substrings)}"
            out += "\n\n"
        out += "\n"
    out += f"Here is the text that needs labeling:\n\nText:\n'''\n{text}\n'''"
    return out


def render_spancat_v2_reference(
    text: str,
    labels: Sequence[str],
    label_definitions: Optional[Dict[str, str]] = None,
    prompt_examples: Optional[List[dict]] = None,
) -> str:
    """Byte-parity render of spancat.v2.jinja (ner.v2 plus the overlap
    sentence in the header)."""
    return render_ner_v2_reference(
        text,
        labels,
        label_definitions=label_definitions,
        prompt_examples=prompt_examples,
        _header=_SPANCAT_V2_HEADER,
    )


def extract_doc_from_prompt(prompt: str) -> str:
    """Recover the (last) fenced document from a prompt — used by the local
    models, which only ever see the prompt (model contract X1, ty.py:19-21).
    """
    start = prompt.rfind(TEXT_OPEN)
    if start == -1:
        return prompt
    start += len(TEXT_OPEN) + 1  # skip fence + newline
    end = prompt.find(TEXT_CLOSE, start)
    if end == -1:
        return prompt[start:]
    return prompt[start : end - 1 if prompt[end - 1] == "\n" else end]
