"""Seeded workload generator.

Every table is a source-files corpus ``(doc_id, repo, path, commit, lang,
content)``, the input schema of ``sources.readers.read_corpus_table``
(which derives ``content_sha256``). Texts are drawn from the word and
length distribution in ``vocab.json``. Content identity is explicit:
each workload states how many rows carry distinct content and how many
are exact copies of another row's content, so a cache or dedup gain can
be read against a known share instead of an artifact of replication.

The same (workload, seed, nproc) always yields byte-identical parquet
files; ``Inputs.digest`` is the sha256 over them.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
from dataclasses import dataclass, field
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "vocab.json")
MEGA_REPO = "mega/monorepo"
MEGA_SHARE = 0.3  # one repository owns ~30% of the rows (skew)
N_SMALL_REPOS = 97
LANG_EXT = {"en": "py", "de": "java", "fr": "go", "es": "rs", "zh": "md"}
WORKLOAD_IDS = {"cold_build": 1, "long_files": 2, "resume_delta": 3}


@dataclass(frozen=True)
class Shape:
    """Sizes of one workload. ``copy_share``: share of rows whose content
    is an exact copy of another row's. ``long_words``: minimum words per
    file when files are concatenations of sampled documents (0 = one
    document per file). ``delta_share``: resume_delta's new and
    re-delivered rows, each as a share of the base rows."""

    rows: int
    copy_share: float = 0.0
    long_words: int = 0
    delta_share: float = 0.0


@dataclass
class Inputs:
    workload: str
    seed: int
    table: str  # parquet directory the job reads
    rows: int
    distinct: int  # distinct content hashes in ``table``
    files: int
    digest: str
    base_table: str = ""  # resume_delta: the rows the checkpoint covers
    counts: Dict[str, int] = field(default_factory=dict)
    contents: List[str] = field(default_factory=list, repr=False)  # per row
    content_sha256: List[str] = field(default_factory=list, repr=False)

    def record(self) -> dict:
        return {
            "workload": self.workload,
            "seed": self.seed,
            "rows": self.rows,
            "distinct": self.distinct,
            "files": self.files,
            "digest": self.digest,
            **self.counts,
        }


class Vocab:
    def __init__(self, path: str = VOCAB_PATH):
        with open(path) as f:
            data = json.load(f)
        self.words = np.array([w for w, _ in data["words"]])
        self.word_p = _probs([c for _, c in data["words"]])
        self.lengths = np.array([n for n, _ in data["doc_words"]])
        self.length_p = _probs([c for _, c in data["doc_words"]])
        self.langs = np.array([l for l, _ in data["langs"]])
        self.lang_p = _probs([c for _, c in data["langs"]])


def _probs(counts) -> np.ndarray:
    arr = np.asarray(counts, dtype=np.float64)
    return arr / arr.sum()


def _documents(rng: np.random.Generator, vocab: Vocab, n: int) -> List[str]:
    lengths = rng.choice(vocab.lengths, size=n, p=vocab.length_p)
    words = rng.choice(vocab.words, size=int(lengths.sum()), p=vocab.word_p)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    return [" ".join(words[a:b]) for a, b in zip(bounds[:-1], bounds[1:])]


def _long_documents(
    rng: np.random.Generator, vocab: Vocab, n: int, min_words: int
) -> List[str]:
    """Files made by concatenating sampled documents, one per line, until
    each holds at least ``min_words`` words."""
    out = []
    for _ in range(n):
        docs: List[str] = []
        total = 0
        while total < min_words:
            doc = _documents(rng, vocab, 1)[0]
            docs.append(doc)
            total += doc.count(" ") + 1
        out.append("\n".join(docs))
    return out


def _distinct(make, rng, vocab, n: int, taken: set) -> List[str]:
    """``n`` texts not in ``taken`` and pairwise distinct (redraws the
    rare collision)."""
    out: List[str] = []
    while len(out) < n:
        for text in make(rng, vocab, n - len(out)):
            if text not in taken:
                taken.add(text)
                out.append(text)
    return out


def _rows(rng: np.random.Generator, vocab: Vocab, seed: int, contents: List[str], first_id: int):
    n = len(contents)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    mega = rng.random(n) < MEGA_SHARE
    small = rng.integers(0, N_SMALL_REPOS, size=n)
    langs = rng.choice(vocab.langs, size=n, p=vocab.lang_p)
    return {
        "doc_id": ids,
        "repo": [MEGA_REPO if m else f"org/repo-{k}" for m, k in zip(mega, small)],
        "path": [f"src/file_{i}.{LANG_EXT.get(l, 'txt')}" for i, l in zip(ids, langs)],
        "commit": [hashlib.sha1(f"{seed}:{i}".encode()).hexdigest() for i in ids],
        "lang": [str(l) for l in langs],
        "content": contents,
    }


def _write(columns: dict, out_dir: str, n_files: int) -> List[str]:
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table(columns)
    n = table.num_rows
    paths = []
    for k in range(n_files):
        a, b = n * k // n_files, n * (k + 1) // n_files
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(a, b - a), path, compression="snappy")
        paths.append(path)
    return paths


def _digest(paths: List[str]) -> str:
    h = hashlib.sha256()
    for path in sorted(paths):
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _sha(texts) -> List[str]:
    return [hashlib.sha256(t.encode("utf-8")).hexdigest() for t in texts]


def generate(workload: str, shape: Shape, seed: int, out_dir: str, nproc: int) -> Inputs:
    """Write the workload's tables under ``out_dir`` and describe them."""
    if workload not in WORKLOAD_IDS:
        raise ValueError(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, WORKLOAD_IDS[workload]])
    vocab = Vocab()
    n_files = 2 * nproc  # one parquet file is one split: give every core work
    taken: set = set()
    counts: Dict[str, int] = {}
    base_table = ""
    written: List[str] = []
    if shape.long_words:
        make = functools.partial(_long_documents, min_words=shape.long_words)
    else:
        make = _documents

    if workload == "resume_delta":
        base = _distinct(make, rng, vocab, shape.rows, taken)
        n_delta = int(round(shape.rows * shape.delta_share))
        new = _distinct(make, rng, vocab, n_delta, taken)
        again = [base[i] for i in rng.choice(len(base), size=n_delta, replace=False)]
        base_table = os.path.join(out_dir, "base")
        base_cols = _rows(rng, vocab, seed, base, 0)
        written += _write(base_cols, base_table, n_files)
        # the job input re-delivers the base rows as they were, plus the
        # new files and copies of base content under new ids, shuffled
        delta_cols = _rows(rng, vocab, seed, new + again, len(base))
        order = rng.permutation(len(base) + 2 * n_delta)
        columns = {}
        for k in base_cols:
            merged = list(base_cols[k]) + list(delta_cols[k])
            columns[k] = [merged[i] for i in order]
        columns["doc_id"] = np.asarray(columns["doc_id"], dtype=np.int64)
        contents = columns["content"]
        counts = {"base_rows": len(base), "new_rows": n_delta, "redelivered_rows": n_delta}
        distinct = len(base) + n_delta
    else:
        n_copies = int(round(shape.rows * shape.copy_share))
        unique = _distinct(make, rng, vocab, shape.rows - n_copies, taken)
        copies = [unique[i] for i in rng.integers(0, len(unique), size=n_copies)]
        contents = [(unique + copies)[i] for i in rng.permutation(shape.rows)]
        columns = _rows(rng, vocab, seed, contents, 0)
        counts = {"copy_rows": n_copies}
        distinct = len(unique)

    table = os.path.join(out_dir, "source")
    written += _write(columns, table, n_files)
    return Inputs(
        workload=workload,
        seed=seed,
        table=table,
        rows=len(contents),
        distinct=distinct,
        files=n_files,
        digest=_digest(written),
        base_table=base_table,
        counts=counts,
        contents=contents,
        content_sha256=_sha(contents),
    )
