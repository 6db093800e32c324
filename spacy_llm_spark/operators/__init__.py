"""Spark operators: the KG extraction stages (``ner``, ``rel``, ``el``,
``fused``, ``sharding``, ``checkpoint``, ``materialize``,
``canonicalize``) and the graph/dedup/similarity families the legacy
driver queries use. Import each submodule directly; nothing is loaded
here, so a worker that runs the fused kernel imports only what it uses.
"""
