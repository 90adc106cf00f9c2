"""Seeded input generator for the entity-resolution benchmark.

Every workload's inputs are a pure function of (workload, seed, scale):
the same arguments give byte-identical tables. Ground truth is known at
generation time and kept apart from the tables the program receives.

Row classes (all in ``repo_files`` shape: repo, path, commit, lang,
content, row_id):

* regular clusters -- 60% singletons, 30% pairs, 8% of 3-10 members, 2% of
  11-50. Members after the first are chain-mutated (2-5% of tokens
  replaced against the previous member), so distant members are only
  joined transitively. A shared licence header on ~15% of clusters gives
  the shingle census something to suppress.
* vendored clusters -- one file copied into hundreds of repos and
  reformatted on the way (line width, indentation, line endings, case):
  token-identical, byte-distinct. Their MinHash signatures are equal, so
  each copy set is one LSH block per band above ``block_cap`` (salted).
* placeholder stubs -- thousands of one-token files ("todo") with
  distinct formatting and distinct names. They form one LSH block per
  band above ``skip_block_threshold`` (a stop band, skipped by design).
  They carry no truth label: the benchmark only checks that no stub is
  merged into a labelled cluster.

Truth tables hold (row_id, truth) with truth = a cluster label, or None
for unlabelled rows.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

LANGS = ["python", "java", "js", "go", "c", "rust"]
LANG_P = [0.40, 0.20, 0.15, 0.10, 0.10, 0.05]
EXT = {"python": "py", "java": "java", "js": "js", "go": "go", "c": "c", "rust": "rs"}
DIRS = ["src/main/util", "src/core", "lib/internal", "pkg/api", "cmd/tool",
        "src/test/helpers", "internal/runtime", "app/models"]
HEADER = (
    "license apache version 2.0 copyright contributors permission granted "
    "free of charge to any person obtaining a copy of this software and "
    "associated documentation files to deal in the software without restriction"
).split()

# Sizes at scale 1.0. Chosen so one operation takes a few seconds on a
# 4-core machine and a whole run (three set-ups + the measured window)
# stays well under a minute.
SIZES = {
    "batch_resolve": {"regular": 600, "vendored": (205,), "stubs": 2050},
    "incremental_fold": {"base": 500, "batch": 100, "batches": 16},
    "link_mentions": {"regular": 2000},
}

PARTS = 8  # parquet files per table: one input partition per file


def _alpha(i: int) -> str:
    """Cluster index as lowercase letters: a unique stem suffix that the
    engine's version-suffix normalisation (trailing _<digits>) keeps."""
    out = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        out = chr(97 + r) + out
    return out


def _vocab(rng: np.random.RandomState, n: int = 600) -> np.ndarray:
    kw = ("def class return import if else for while try except fn func var let "
          "const static void int str map list vec push append self this new").split()
    syll = ["get", "set", "load", "parse", "node", "tree", "hash", "key", "val",
            "buf", "ctx", "cfg", "idx", "ptr", "row", "col", "tmp", "acc", "res",
            "data", "item", "pack", "sync", "lock", "pool", "task", "job", "span"]
    out = list(kw)
    while len(out) < n:
        out.append(f"{rng.choice(syll)}_{rng.choice(syll)}{rng.randint(0, 100)}")
    return np.array(out, dtype=object)


def _layout(tokens, per_line: int = 12, indent: str = "", eol: str = "\n",
            upper: bool = False) -> str:
    lines = [indent + " ".join(tokens[i:i + per_line])
             for i in range(0, len(tokens), per_line)]
    text = eol.join(lines)
    return text.upper() if upper else text


def _commit(tag: str) -> str:
    return hashlib.sha256(tag.encode()).hexdigest()[:40]


def _cluster_sizes(rng: np.random.RandomState, n_rows: int) -> list[int]:
    sizes: list[int] = []
    total = 0
    while total < n_rows:
        u = rng.rand()
        if u < 0.60:
            s = 1
        elif u < 0.90:
            s = 2
        elif u < 0.98:
            s = int(rng.randint(3, 11))
        else:
            s = int(rng.randint(11, 51))
        s = min(s, n_rows - total)
        sizes.append(s)
        total += s
    return sizes


class _Ids:
    """Sequential row ids; a cluster's label is its first (= minimum) id."""

    def __init__(self) -> None:
        self.n = 0

    def take(self) -> str:
        rid = f"r{self.n:08d}"
        self.n += 1
        return rid


def regular_rows(rng, vocab, n_rows: int, ids: _Ids) -> list[dict]:
    # the multiset of cluster sizes is the same for every seed (only its
    # order varies), so seeds differ in content, not in how much work the
    # clusters make
    sizes = _cluster_sizes(np.random.RandomState(0), n_rows)
    rows: list[dict] = []
    for c_idx, size in enumerate(rng.permutation(sizes)):
        size = int(size)
        lang = str(rng.choice(LANGS, p=LANG_P))
        ext = EXT[lang]
        has_header = rng.rand() < 0.15
        toks = list(rng.choice(vocab, size=int(rng.randint(30, 600))))
        d = DIRS[rng.randint(0, len(DIRS))]
        stem = f"{rng.choice(vocab)}_{_alpha(c_idx)}"
        label = None
        for m in range(size):
            rid = ids.take()
            label = label or rid
            path = f"{d}/{stem}.{ext}"
            if m > 0:
                toks = list(toks)
                n_mut = max(1, int(len(toks) * rng.uniform(0.02, 0.05)))
                for p in rng.randint(0, len(toks), size=n_mut):
                    toks[p] = rng.choice(vocab)
                kind = rng.randint(0, 3)
                if kind == 0:
                    path = f"{DIRS[rng.randint(0, len(DIRS))]}/{stem}.{ext}"
                elif kind == 1:
                    path = f"{d}/{stem}_v{m}.{ext}"
                else:
                    path = f"{d}/{stem}.{ext.upper()}"
            body = (HEADER + toks) if has_header else toks
            rows.append({
                "row_id": rid, "repo": f"org{len(rows) % 20}/repo{len(rows) % 137}",
                "path": path, "commit": _commit(rid), "lang": lang,
                "content": _layout(body), "truth": label,
                "body_start": len(HEADER) if has_header else 0,
            })
    return rows


def vendored_rows(rng, vocab, n_copies: int, v_idx: int, ids: _Ids) -> list[dict]:
    """One vendored file in `n_copies` repos, each copy reformatted
    differently (distinct bytes, identical tokens)."""
    lang = LANGS[v_idx % len(LANGS)]
    toks = list(rng.choice(vocab, size=90))
    stem = f"vendored_{_alpha(v_idx)}"
    styles = [(w, ind, eol, up) for w in range(4, 30) for ind in ("", "  ", "    ", "\t")
              for eol in ("\n", "\r\n") for up in (False, True)]
    pick = rng.permutation(len(styles))[:n_copies]
    rows: list[dict] = []
    label = None
    for k, s in enumerate(pick):
        w, ind, eol, up = styles[s]
        rid = ids.take()
        label = label or rid
        rows.append({
            "row_id": rid, "repo": f"vendor{v_idx}/consumer{k}",
            "path": f"third_party/lib{_alpha(v_idx)}/{stem}.{EXT[lang]}",
            "commit": _commit(rid), "lang": lang,
            "content": _layout(toks, per_line=w, indent=ind, eol=eol, upper=up),
            "truth": label, "body_start": 0,
        })
    return rows


def stub_rows(rng, n: int, ids: _Ids) -> list[dict]:
    """Placeholder files: one token, many spellings, all distinct."""
    prefixes = ["# ", "// ", "/* ", "-- ", ";; ", "% "]
    words = ["todo", "TODO", "Todo"]
    suffixes = ["", ".", ":", "!", " */"]
    styles = [(p, w, s, nl) for p in prefixes for w in words for s in suffixes
              for nl in range(40)]
    pick = rng.permutation(len(styles))[:n]
    rows: list[dict] = []
    for k, s in enumerate(pick):
        p, w, sfx, nl = styles[s]
        rid = ids.take()
        rows.append({
            "row_id": rid, "repo": f"stubs/repo{k % 97}",
            "path": f"src/placeholders/stub_{_alpha(k)}.py",
            "commit": _commit(rid), "lang": "python",
            "content": f"{p}{w}{sfx}" + "\n" * nl, "truth": None, "body_start": 0,
        })
    return rows


def path_stem(paths: pd.Series) -> pd.Series:
    """File-name stem as the engine normalises it (lowercase, extension
    and version suffixes off)."""
    name = paths.str.rsplit("/", n=1).str[-1].str.lower()
    name = name.str.replace(r"\.[a-z0-9]+$", "", regex=True)
    return name.str.replace(r"(_v?\d+)+$", "", regex=True)


REPO_COLS = ["repo", "path", "commit", "lang", "content", "row_id"]


@dataclass
class Inputs:
    """Generated tables (pandas) by name, plus truth and sizes."""

    tables: dict[str, pd.DataFrame]
    truth: pd.DataFrame
    meta: dict


def _scaled(n: int, scale: float, floor: int = 1) -> int:
    return max(floor, int(round(n * scale)))


def generate(workload: str, seed: int, scale: float = 1.0) -> Inputs:
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    rng = np.random.RandomState(seed)
    vocab = _vocab(rng)
    ids = _Ids()
    size = SIZES[workload]
    if workload == "batch_resolve":
        rows = regular_rows(rng, vocab, _scaled(size["regular"], scale), ids)
        for v, n in enumerate(size["vendored"]):
            rows += vendored_rows(rng, vocab, n, v, ids)
        rows += stub_rows(rng, size["stubs"], ids)
        df = pd.DataFrame(rows).sample(frac=1.0, random_state=rng).reset_index(drop=True)
        return Inputs({"repo_files": df[REPO_COLS]}, df[["row_id", "truth"]],
                      {"rows": len(df)})
    if workload == "incremental_fold":
        n_base = _scaled(size["base"], scale, 50)
        n_batch = _scaled(size["batch"], scale, 10)
        n_total = n_base + n_batch * size["batches"]
        rows = regular_rows(rng, vocab, n_total, ids)
        # arrival order: random, except that a cluster's members arrive in
        # chain order (a file's versions arrive in commit order), so the
        # members seen so far are always transitively connected
        df = pd.DataFrame(rows)
        slots = rng.permutation(len(df))
        df["slot"] = df.groupby("truth")["row_id"].transform(
            lambda ids: np.sort(slots[ids.index])
        )
        df = df.sort_values("slot").reset_index(drop=True)
        # batch -1 = the base state, then batch 0, 1, ...; the benchmark
        # strips the column before the program sees it
        df["batch"] = np.maximum(np.arange(len(df)) - n_base, -1) // n_batch
        return Inputs({"repo_files": df[REPO_COLS + ["batch"]]}, df[["row_id", "truth"]],
                      {"base_rows": n_base, "batch_rows": n_batch,
                       "batches": size["batches"]})
    # link_mentions: entities are cluster representatives (title = file
    # stem, text = content); mentions are the other members (file stem +
    # a body snippet from a random position); corpus = language
    rows = pd.DataFrame(regular_rows(rng, vocab, _scaled(size["regular"], scale, 50), ids))
    stems = path_stem(rows["path"])
    is_rep = rows["row_id"] == rows["truth"]
    ents = pd.DataFrame({
        "corpus": rows["lang"], "document_id": rows["row_id"],
        "title": stems, "text": rows["content"],
    })[is_rep].reset_index(drop=True)
    snippets = []
    for content, start in zip(rows["content"], rows["body_start"]):
        toks = content.split()[start:]
        lo = int(rng.randint(0, max(1, len(toks) - 40)))
        snippets.append(" ".join(toks[lo:lo + 40]))
    ments = pd.DataFrame({
        "corpus": rows["lang"], "mention_id": "m" + rows["row_id"].str[1:],
        "text": stems + " " + pd.Series(snippets, index=rows.index),
        "label_document_id": rows["truth"],
    })[~is_rep].reset_index(drop=True)
    truth = ments[["mention_id", "label_document_id"]].rename(
        columns={"mention_id": "row_id", "label_document_id": "truth"})
    return Inputs({"entities": ents, "mentions": ments}, truth,
                  {"entities": len(ents), "mentions": len(ments)})


# ---------------------------------------------------------------------------
# on-disk cache: generation stays out of every timed region, and a repeat of
# the same (workload, seed, scale) skips it entirely
# ---------------------------------------------------------------------------


def cache_dir(root: str, workload: str, seed: int, scale: float) -> str:
    """Cache key: (workload, seed, scale) plus a digest of this file, so a
    changed generator never serves stale inputs."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    return os.path.join(root, f"{workload}-s{seed}-x{scale:g}-{version}")


def _write_table(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(df)), PARTS)):
        df.iloc[part].to_parquet(os.path.join(path, f"part-{i:03d}.parquet"), index=False)


def materialize(root: str, workload: str, seed: int,
                scale: float = 1.0) -> tuple[str, pd.DataFrame, dict]:
    """Parquet tables for (workload, seed, scale) under one directory,
    generated on a cache miss. Returns (dir, truth, meta); each table is
    the sub-directory named after it."""
    import json

    d = cache_dir(root, workload, seed, scale)
    if not os.path.exists(os.path.join(d, "meta.json")):
        inputs = generate(workload, seed, scale)
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        for name, df in inputs.tables.items():
            _write_table(df, os.path.join(tmp, name))
        inputs.truth.to_parquet(os.path.join(tmp, "truth.parquet"), index=False)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(inputs.meta, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    return d, pd.read_parquet(os.path.join(d, "truth.parquet")), meta
