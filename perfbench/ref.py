"""The benchmark's own reference: tokenizer, BM25 and result checks.

Written from the documented behaviour, not from the program's code:

- Tokens follow the rules in the program's tokenizer docstring. The
  space-like characters `` \\t\\r\\n`` and U+3000 separate tokens.
  Each ASCII special character (33-47, 58-64, 91-96, 123-126) is a
  token of its own, and every maximal run of other characters is one
  token. The ``content`` field lowercases each token.
- BM25 is the classic Lucene form with k1 = 1.2 and b = 0.75, where
  idf = ln(1 + (N - df + 0.5) / (df + 0.5)) and
  tfnorm = tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl)).
  N, df, dl and avgdl are taken over the whole corpus, and dl counts
  every token, the special characters among them.
- A query scores the sum of its matching terms' idf * tfnorm. AND and
  OR sum their children, NOT keeps the positive side's score, and an
  exact phrase sums the per-term scores of its slots in documents
  where the slots occur at consecutive positions.

Every check raises CheckError, so the self-check can show that a
corrupted result is rejected.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter

K1 = 1.2
B = 0.75
REL_TOL = 1e-9

_SPECIAL = "".join(
    chr(c)
    for lo, hi in ((33, 47), (58, 64), (91, 96), (123, 126))
    for c in range(lo, hi + 1)
)
_SPACE = " \t\r\n　"
_TOKEN = re.compile(
    "[" + re.escape(_SPECIAL) + "]|[^" + re.escape(_SPECIAL + _SPACE) + "]+"
)


class CheckError(AssertionError):
    pass


def tokens(text: str) -> list[str]:
    return _TOKEN.findall(text)


def doc_key(row) -> tuple[str, str, str]:
    return (row["repo"], row["path"], row["commit"])


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))


def _damerau1(a: str, b: str) -> bool:
    """True when a and b are at most one edit apart (insert, delete,
    substitute, or swap of two adjacent characters)."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    i = 0
    while i < min(la, lb) and a[i] == b[i]:
        i += 1
    if la == lb:
        return a[i + 1:] == b[i + 1:] or (
            i + 1 < la and a[i] == b[i + 1] and a[i + 1] == b[i]
            and a[i + 2:] == b[i + 2:]
        )
    return (a[i + 1:] == b[i:]) if la > lb else (a[i:] == b[i + 1:])


class RefIndex:
    """In-memory positional index of the ``content`` field."""

    def __init__(self, rows: list[dict]):
        self.rows = rows
        self.keys = [doc_key(r) for r in rows]
        self.n_docs = len(rows)
        self.toks: list[list[str]] = []
        self.tf: list[Counter] = []
        self.dl: list[int] = []
        self.postings: dict[str, list[int]] = {}
        for i, r in enumerate(rows):
            ts = [t.lower() for t in tokens(r["content"])]
            c = Counter(ts)
            self.toks.append(ts)
            self.tf.append(c)
            self.dl.append(len(ts))
            for t in c:
                self.postings.setdefault(t, []).append(i)
        self.df = {t: len(d) for t, d in self.postings.items()}
        self.avgdl = sum(self.dl) / self.n_docs

    # ---------- scoring ----------

    def idf(self, term: str) -> float:
        df = self.df.get(term, 0)
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def term_scores(self, term: str) -> dict[int, float]:
        idf = self.idf(term)
        out = {}
        for d in self.postings.get(term, ()):
            tf = self.tf[d][term]
            norm = K1 * (1.0 - B + B * self.dl[d] / self.avgdl)
            out[d] = idf * (tf * (K1 + 1.0) / (tf + norm))
        return out

    def evaluate(self, tree) -> dict[int, float]:
        """doc index -> score for the term/and/or/not/phrase trees the
        query generator emits."""
        kind = tree[0]
        if kind == "term":
            return self.term_scores(tree[1])
        if kind == "and":
            maps = [self.evaluate(c) for c in tree[1]]
            docs = set(maps[0]).intersection(*maps[1:])
            return {d: sum(m[d] for m in maps) for d in docs}
        if kind == "or":
            out: dict[int, float] = {}
            for c in tree[1]:
                for d, s in self.evaluate(c).items():
                    out[d] = out.get(d, 0.0) + s
            return out
        if kind == "not":
            neg = set(self.evaluate(tree[2]))
            return {d: s for d, s in self.evaluate(tree[1]).items() if d not in neg}
        if kind == "phrase":
            slots = tree[1]
            per = [self.term_scores(t) for t in slots]
            out = {}
            for d in set(per[0]).intersection(*per[1:]):
                ts = self.toks[d]
                n = len(slots)
                if any(ts[p:p + n] == list(slots) for p in range(len(ts) - n + 1)):
                    out[d] = sum(m[d] for m in per)
            return out
        raise ValueError(kind)

    def matching_docs(self, tree) -> set[int]:
        """Docs a prefix or fuzzy leaf matches (property checks)."""
        kind = tree[0]
        if kind == "prefix":
            terms = [t for t in self.postings if t.startswith(tree[1])]
        elif kind == "fuzzy":
            terms = [t for t in self.postings if _damerau1(t, tree[1])]
        else:
            raise ValueError(kind)
        return {d for t in terms for d in self.postings[t]}

    def passes(self, d: int, filters: dict | None) -> bool:
        if not filters:
            return True
        r = self.rows[d]
        if "lang" in filters and r["lang"] != filters["lang"]:
            return False
        if "path_prefix" in filters and not r["path"].startswith(
            filters["path_prefix"]
        ):
            return False
        return True

    def sample_phrase(self, rng) -> list[str]:
        """2-3 consecutive word tokens from a random document."""
        while True:
            ts = self.toks[rng.randrange(self.n_docs)]
            n = rng.choice((2, 3))
            starts = [
                p for p in range(len(ts) - n + 1)
                if all(t.isalnum() for t in ts[p:p + n])
                and len(set(ts[p:p + n])) == n
            ]
            if starts:
                p = rng.choice(starts)
                return ts[p:p + n]


# ------------------------------------------------------------ checks


def check_top_k(got: list[tuple], expected: dict, k: int, what: str) -> None:
    """``got`` is the engine's [(key, score)] in rank order; ``expected``
    maps key -> score over every matching doc. Equal scores may come in
    any order, and any of the docs tied at rank k may fill the tail."""
    want = sorted(expected.values(), reverse=True)[:k]
    if len(got) != len(want):
        raise CheckError(f"{what}: {len(got)} results, expected {len(want)}")
    seen = set()
    for i, (key, score) in enumerate(got):
        if key in seen:
            raise CheckError(f"{what}: duplicate result {key}")
        seen.add(key)
        if key not in expected:
            raise CheckError(f"{what}: {key} does not match")
        if not _close(score, expected[key]):
            raise CheckError(
                f"{what}: {key} scored {score!r}, expected {expected[key]!r}"
            )
        if not _close(score, want[i]):
            raise CheckError(f"{what}: rank {i} scored {score!r}, expected {want[i]!r}")
    if want:
        kth = want[-1]
        must = {
            key for key, s in expected.items()
            if s > kth and not _close(s, kth)
        }
        if not must <= seen:
            raise CheckError(f"{what}: missing {sorted(must - seen)[:3]}")


def check_property(got: list[tuple], allowed: set, k: int, what: str) -> None:
    """Every result is an allowed doc, the count is min(k, |allowed|),
    and scores are positive and non-increasing."""
    if len(got) != min(k, len(allowed)):
        raise CheckError(f"{what}: {len(got)} results, expected {min(k, len(allowed))}")
    prev = math.inf
    for key, score in got:
        if key not in allowed:
            raise CheckError(f"{what}: {key} does not match")
        if not 0.0 < score <= prev * (1 + REL_TOL):
            raise CheckError(f"{what}: score {score!r} out of order")
        prev = score
    if len({key for key, _ in got}) != len(got):
        raise CheckError(f"{what}: duplicate results")


def check_query(ref: RefIndex, q: dict, got: list[tuple], k: int) -> None:
    """Check one search result against the reference."""
    tree, flt, what = q["tree"], q["filters"], f"{q['cls']} {q['text']!r}"
    if flt:
        # filters do not change scores (corpus-global statistics)
        exp = {
            ref.keys[d]: s for d, s in ref.evaluate(tree).items()
            if ref.passes(d, flt)
        }
        check_property(got, set(exp), k, what)
        for key, s in got:
            if not _close(s, exp[key]):
                raise CheckError(f"{what}: {key} scored {s!r}, expected {exp[key]!r}")
    elif tree[0] in ("prefix", "fuzzy"):
        check_property(got, {ref.keys[d] for d in ref.matching_docs(tree)}, k, what)
    else:
        exp = {ref.keys[d]: s for d, s in ref.evaluate(tree).items()}
        check_top_k(got, exp, k, what)


def check_docs_table(rows: list[dict], got: list[tuple]) -> None:
    """``got`` is the docs table as [(key, content_sha256)]: one row per
    input file, each hash equal to sha256 of the generated content."""
    want = {
        doc_key(r): hashlib.sha256(r["content"].encode("utf-8")).hexdigest()
        for r in rows
    }
    if len(got) != len(want) or {key for key, _ in got} != set(want):
        raise CheckError(f"docs table has {len(got)} rows, expected one per {len(want)} files")
    for key, sha in got:
        if want.get(key) != sha:
            raise CheckError(f"docs table: sha256 mismatch for {key}")


def check_df(ref: RefIndex, got: dict[str, int], terms: list[str]) -> None:
    """Dictionary document frequencies of ``terms`` equal the reference
    counts (a term absent from the dictionary has df 0)."""
    for t in terms:
        if got.get(t, 0) != ref.df.get(t, 0):
            raise CheckError(f"df[{t!r}] = {got.get(t, 0)}, expected {ref.df.get(t, 0)}")


def rejects(check, *args) -> bool:
    """True when ``check(*args)`` raises CheckError."""
    try:
        check(*args)
    except CheckError:
        return True
    return False
