"""Seeded corpus generators with planted duplicate structure.

Every generator is pure Python over ``random.Random(seed)``: the same
seed gives byte-identical rows. A corpus is returned as plain rows for
the ``repos`` input contract ``(repo, path, commit, lang, content)``
plus a parallel list of planted group ids, which the pipeline never
sees; the correctness checks compare cluster output against them.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass

_LANGS = ("python", "rust", "javascript", "markdown", "text")
_VOCAB_SIZE = 20_000


@dataclass
class Corpus:
    rows: list[tuple[str, str, str, str, str]]   # repo, path, commit, lang, content
    groups: list[int]                           # planted group per row

    @property
    def content_bytes(self) -> int:
        return sum(len(r[4].encode()) for r in self.rows)


def _commit(*parts) -> str:
    return hashlib.sha1(":".join(map(str, parts)).encode()).hexdigest()


def _words(rng: random.Random, n: int) -> str:
    return " ".join(f"w{rng.randrange(_VOCAB_SIZE)}" for _ in range(n))


def families(seed: int, n_families: int, group_size: int = 4) -> Corpus:
    """Families of ``group_size`` short files: a base, an exact copy and
    near-duplicate forks (base plus a short distinct tail, token Jaccard
    about 0.85-0.95). Distinct families share no 5-token window, so the
    expected clustering is exactly one cluster per family."""
    rng = random.Random(seed)
    rows, groups = [], []
    for fam in range(n_families):
        base = _words(rng, rng.randint(40, 90))
        lang = rng.choice(_LANGS)
        repo = f"org{fam % 7}/proj{fam % 53}"
        for member in range(group_size):
            content = base if member <= 1 else f"{base} variant tail token {member}"
            path = "/".join(["src"] * member + [f"fam{fam}_m{member}.txt"])
            rows.append((repo, path, _commit(seed, fam), lang, content))
            groups.append(fam)
    return Corpus(rows, groups)


@dataclass
class Snapshot:
    corpus: Corpus        # the whole current snapshot
    files_ingested: int   # modified + added rows
    files_dead: int       # modified + deleted rows


def delta_snapshot(seed: int, base: Corpus, modified: float = 0.01,
                   deleted: float = 0.005, added: float = 0.01) -> Snapshot:
    """The next snapshot of ``base``: a share of its files modified (new
    commit, content with a short extra tail), a share deleted, and a
    share added (a near copy of an existing file under a new path). Every
    kept, modified or added file stays in its planted group."""
    rng = random.Random(seed * 7919 + 17)
    n = len(base.rows)
    n_mod, n_del, n_add = (max(1, round(n * f)) for f in (modified, deleted, added))
    picked = rng.sample(range(n), n_mod + n_del + n_add)
    mod = set(picked[:n_mod])
    dead = set(picked[n_mod:n_mod + n_del])
    rows, groups = [], []
    for i, (row, group) in enumerate(zip(base.rows, base.groups)):
        if i in dead:
            continue
        if i in mod:
            repo, path, _, lang, content = row
            row = (repo, path, _commit(seed, "mod", i), lang,
                   f"{content} edited tail {i}")
        rows.append(row)
        groups.append(group)
    for k, i in enumerate(picked[n_mod + n_del:]):
        repo, path, _, lang, content = base.rows[i]
        rows.append((repo, f"added{k}/{path}", _commit(seed, "add", k), lang,
                     f"{content} added tail {k}"))
        groups.append(base.groups[i])
    return Snapshot(Corpus(rows, groups), n_mod + n_add, n_mod + n_del)


def chains(seed: int, n_segments: int, versions: int = 64,
           window: int = 16) -> Corpus:
    """A file vendored at many versions. Each segment has
    ``versions + window - 1`` documents; version ``v`` is the sliding
    window of documents ``v .. v+window-1`` (adjacent versions: token
    Jaccard about 0.88, so consecutive versions chain), and every
    document is also a standalone snippet file contained in up to
    ``window`` versions at size ratio about ``window`` (Jaccard about
    0.06: only the containment tier reaches it). Each document carries a
    unique token block, so segments stay apart: one cluster per segment."""
    rng = random.Random(seed)
    rows, groups = [], []
    for seg in range(n_segments):
        docs = [
            f"{_words(rng, rng.randint(24, 40))} "
            + " ".join(f"u{seed}s{seg}d{d}k{k}" for k in range(3))
            for d in range(versions + window - 1)
        ]
        repo = f"vendor{seg % 5}/lib{seg}"
        lang = rng.choice(_LANGS)
        for v in range(versions):
            rows.append((repo, f"third_party/v{v}/lib.txt", _commit(seed, seg, v),
                         lang, "\n".join(docs[v:v + window])))
            groups.append(seg)
        for d, doc in enumerate(docs):
            rows.append((repo, f"snippets/s{d}.txt", _commit(seed, seg),
                         lang, doc))
            groups.append(seg)
    return Corpus(rows, groups)
