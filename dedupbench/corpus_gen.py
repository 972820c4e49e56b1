"""Seeded source-code corpora for the dedup benchmark.

The families follow the engine's synthetic corpus (half of the families
unique files; type-1 byte copies, type-2 renames, type-3 statement edits,
containment hosts, and 5% of the families boilerplate files that share a
licence header and drive mega-bucket skew), but the generator lives here so
that an edit to the program's own corpus module cannot change a workload. `input_digest`
pins every generated input; `input_digests.json` records it for the seeds the
benchmark was calibrated on.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np
import pandas as pd

_STMTS = [
    "int {v} = {n};",
    'String {v} = "{v}_{n}";',
    "{v} = {v} + {n};",
    "if ({v} > {n}) {{ {v} -= {n}; }}",
    "for (int i{n} = 0; i{n} < {n}; i{n}++) {{ {v} += i{n}; }}",
    "System.out.println({v});",
    "process_{v}({v}, {n});",
    "double {v}_d = {v} * {n}.5;",
    "list_{v}.add({n});",
    "return_{v} |= check_{v}({n});",
]
_HEADER = "\n".join(
    [
        "// Licensed under the Example License, Version 9.9 (the License);",
        "// you may not use this file except in compliance with the License.",
        "// You may obtain a copy of the License at http://example.invalid/LICENSE",
        "// Unless required by applicable law or agreed to in writing, software",
        "// distributed under the License is distributed on an AS IS BASIS,",
        "// WITHOUT WARRANTIES OR CONDITIONS OF ANY KIND, either express or implied.",
    ]
    * 5
)


@dataclass
class Corpus:
    files: pd.DataFrame  # repo, path, commit, lang, content (the program's input)
    family: list[str]  # per row: unique/type1/type2/type3/containment/boilerplate
    family_id: np.ndarray  # per row: family number (ground truth)


def _stmts(rng: np.random.Generator, n: int, ident: str) -> list[str]:
    out = []
    for _ in range(n):
        t = _STMTS[rng.integers(0, len(_STMTS))]
        out.append(t.format(v=f"{ident}{rng.integers(0, 5)}", n=rng.integers(0, 100)))
    return out


# Families come in shuffled blocks of 20 with a fixed kind mix, and each
# kind's member counts cycle through a fixed list, so every seed yields the
# same composition (same boilerplate skew, same clone counts) and seeds
# differ only in content and order.
_BLOCK = ["unique"] * 10 + ["type1"] * 3 + ["type2"] * 3 + ["type3"] * 2 + [
    "containment",
    "boilerplate",
]
_SIZES = {
    "unique": [1],
    "type1": [2, 3, 4, 5],
    "type2": [2, 3, 4],
    "type3": [2, 3],
    "containment": [2],
    "boilerplate": [3, 4, 5, 6, 7],
}


def _members(rng: np.random.Generator, kind: str, k: int, fam: int, first_seq: int) -> list[str]:
    """Contents of one clone family of `kind` with `k` members."""
    if kind == "unique":
        return ["\n".join(_stmts(rng, int(rng.integers(20, 60)), f"var{first_seq}_"))]
    if kind == "type1":
        return ["\n".join(_stmts(rng, int(rng.integers(20, 60)), f"t1v{fam}_"))] * k
    if kind == "type2":
        lines = _stmts(rng, int(rng.integers(30, 70)), f"t2v{fam}_")
        return [
            "\n".join(ln.replace(f"t2v{fam}_", f"ren{fam}m{m}_") for ln in lines)
            if m
            else "\n".join(lines)
            for m in range(k)
        ]
    if kind == "type3":
        lines = _stmts(rng, 50, f"t3v{fam}_")
        members = ["\n".join(lines)]
        for m in range(1, k):
            variant = list(lines)
            for _ in range(int(rng.integers(5, 20))):
                if rng.random() < 0.5 and len(variant) > 10:
                    del variant[int(rng.integers(0, len(variant)))]
                else:
                    variant.insert(
                        int(rng.integers(0, len(variant))),
                        _stmts(rng, 1, f"ins{fam}m{m}_")[0],
                    )
            members.append("\n".join(variant))
        return members
    if kind == "containment":
        seed_lines = _stmts(rng, 30, f"cv{fam}_")
        host = _stmts(rng, 100, f"host{fam}_") + seed_lines + _stmts(rng, 100, f"tail{fam}_")
        return ["\n".join(seed_lines), "\n".join(host)]
    return [
        _HEADER + "\n" + "\n".join(_stmts(rng, 35, f"bp{first_seq + j}_")) for j in range(k)
    ]


def generate(n_files: int, seed: int, stream: int = 0) -> Corpus:
    """`n_files` files from the seed; `stream` picks an independent corpus
    of the same seed (the warm-up inputs)."""
    rng = np.random.default_rng([seed, stream])
    contents, family, family_id = [], [], []
    made = {kind: 0 for kind in _SIZES}
    fam = 0
    while len(contents) < n_files:
        for j in rng.permutation(len(_BLOCK)):
            if len(contents) >= n_files:
                break
            kind = _BLOCK[j]
            sizes = _SIZES[kind]
            k = sizes[made[kind] % len(sizes)]
            made[kind] += 1
            members = _members(rng, kind, k, fam, len(contents))[: n_files - len(contents)]
            contents += members
            family += [kind] * len(members)
            family_id += [fam] * len(members)
            fam += 1
    n = len(contents)
    # seed and stream are part of the natural key, so no two corpora share
    # a file id
    files = pd.DataFrame(
        {
            "repo": [f"org{j % 7}/repo{j % 97}" for j in range(n)],
            "path": [f"src/pkg{j % 13}/Class{j}.java" for j in range(n)],
            "commit": [f"{seed:08x}{stream:04x}{j:028x}" for j in range(n)],
            "lang": ["java"] * n,
            "content": contents,
        }
    )
    return Corpus(files, family, np.asarray(family_id, dtype=np.int64))


def input_digest(corpora: list[Corpus]) -> str:
    h = hashlib.sha256()
    for corpus in corpora:
        for row in corpus.files.itertuples(index=False):
            for v in row:
                h.update(v.encode())
                h.update(b"\0")
        h.update(",".join(corpus.family).encode())
        h.update(corpus.family_id.tobytes())
    return h.hexdigest()
