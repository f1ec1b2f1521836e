"""Seeded input generators: source corpus, query stream, nothing else.

Everything here is a pure function of its arguments (the seed among
them), so two runs with one seed feed the engine identical bytes. The
module imports nothing from ``codeindex_spark``: a change to the
program cannot change what the benchmark feeds it.
"""

from __future__ import annotations

import hashlib
import math
import random
import statistics

# Code-ish word parts for identifiers. The boolean operator words and
# the range keyword are left out so that a lowercased identifier never
# reads as query syntax.
_PARTS = (
    "user name cache index file path token query score block term field "
    "value buffer stream reader writer builder parser segment posting "
    "merge commit flush batch size count total length offset limit page "
    "item list map set key entry node tree graph edge vertex route "
    "handler service client server request response session context "
    "config option param result error status state event message queue "
    "worker task job stage plan cost metric timer clock lock mutex "
    "thread pool slot frame window shard replica leader follower vote "
    "term log record table column row schema type kind mode level depth "
    "width height color shape point line rect circle image pixel audio "
    "video codec encoder decoder packet socket channel port host address "
    "domain zone region cluster tenant account owner group role policy "
    "rule check guard filter sorter finder loader saver mapper reducer "
    "splitter joiner counter tracker monitor probe sample hash digest"
).split()
_EXTS = {"cs": "csharp", "py": "python", "js": "javascript", "java": "java"}
_REPOS = (
    "acme/indexer", "acme/webapp", "globex/search", "globex/store",
    "initech/tools", "umbrella/core",
)
_PKGS = ("core", "api", "util", "model", "net", "io", "store", "query")
# Identifier rank distribution: weight 1/(rank+1)^ZIPF_S
ZIPF_S = 1.05
VOCAB_SIZE = 4000
# Every DUP_EVERY-th file repeats an earlier file's content
DUP_EVERY = 16
# File length in lines: log-normal (median e^LINES_MU), capped
LINES_MU = 2.4
LINES_SIGMA = 0.8
MAX_LINES = 400


def _camel(rng: random.Random) -> str:
    parts = rng.sample(_PARTS, rng.choice((2, 2, 3)))
    name = "".join(p.capitalize() for p in parts)
    return name if rng.random() < 0.6 else name[0].lower() + name[1:]


def _snake(rng: random.Random) -> str:
    return "_".join(rng.sample(_PARTS, rng.choice((2, 2, 3))))


def vocabulary(seed: int) -> list[str]:
    """VOCAB_SIZE distinct identifiers, about two thirds CamelCase and
    one third snake_case, in Zipf rank order (index 0 is the hottest).
    Shorter names rank hotter, as in real code; this also keeps the
    corpus size nearly the same across seeds."""
    rng = random.Random(f"vocab-{seed}")
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < VOCAB_SIZE:
        w = _snake(rng) if rng.random() < 0.33 else _camel(rng)
        if w.lower() not in seen:
            seen.add(w.lower())
            out.append(w)
    return sorted(out, key=len)


class _Zipf:
    def __init__(self, words: list[str], rng: random.Random):
        self.words = words
        self.rng = rng
        acc, cum = 0.0, []
        for r in range(len(words)):
            acc += 1.0 / (r + 1) ** ZIPF_S
            cum.append(acc)
        self.cum = cum

    def __call__(self) -> str:
        return self.rng.choices(self.words, cum_weights=self.cum)[0]


# Line templates. The first five carry the hot terms get/string/return
# that dominate real code; the rest mix identifiers, literals and the
# tokenizer's special characters.
_HOT = (
    "    return {a};",
    "    public string {A}() {{ return {b}; }}",
    "    string {a} = {b}.get({n});",
    "    var {a} = get{A}({b}, \"{w}\");",
    "    if ({a} == null) return get({b});",
)
_COLD = (
    "    {a}.{A}({b}, {n});",
    "    // {w} {w2} {a}",
    "    for (int i = 0; i < {a}.{B}; i++) {{ {b}[i] = {n}; }}",
    "    {a} = new {A}({b});",
    "def {s}({s2}):",
    "    {s} = {s2} + {n}",
    "    throw new {A}(\"{w} {w2}\");",
    "import {w}.{w2}.{A};",
)


def _line(rng: random.Random, pick: _Zipf) -> str:
    tmpl = rng.choice(_HOT) if rng.random() < 0.45 else rng.choice(_COLD)
    a, b = pick(), pick()
    return tmpl.format(
        a=a,
        b=b,
        A=a[0].upper() + a[1:],
        B=b[0].upper() + b[1:],
        s=pick().lower(),
        s2=pick().lower(),
        w=rng.choice(_PARTS),
        w2=rng.choice(_PARTS),
        n=rng.randrange(1000),
    )


def corpus(seed: int, n_files: int) -> list[dict]:
    """``n_files`` rows of (repo, path, commit, lang, content).

    Line counts are log-normal (median ~11, a tail to 400 lines), so
    file sizes are heavy-tailed. Every DUP_EVERY-th file repeats the
    content of an earlier file under another path. (repo, path) is
    unique, and each commit is a 40-hex digest of the seed and row.
    """
    rng = random.Random(f"corpus-{seed}")
    pick = _Zipf(vocabulary(seed), rng)
    # line counts at evenly spaced quantiles of the log-normal, in seeded
    # order: every seed has the same size distribution and total size
    dist = statistics.NormalDist(LINES_MU, LINES_SIGMA)
    lengths = [
        min(MAX_LINES, max(2, int(math.exp(dist.inv_cdf((i + 0.5) / n_files)))))
        for i in range(n_files)
    ]
    rng.shuffle(lengths)
    rows: list[dict] = []
    for i in range(n_files):
        ext = rng.choice(list(_EXTS))
        if i % DUP_EVERY == DUP_EVERY - 1:
            # the earlier file closest in length, so that sizes still
            # follow the quantiles
            j = min(range(i), key=lambda j: (abs(lengths[j] - lengths[i]), rng.random()))
            content = rows[j]["content"]
        else:
            content = "\n".join(_line(rng, pick) for _ in range(lengths[i]))
        name = pick()
        rows.append(
            {
                "repo": rng.choice(_REPOS),
                "path": f"src/{rng.choice(_PKGS)}/{name[0].upper()}{name[1:]}"
                f"{i}.{ext}",
                "commit": hashlib.sha1(f"{seed}/{i}".encode()).hexdigest(),
                "lang": _EXTS[ext],
                "content": content,
            }
        )
    return rows


# ------------------------------------------------------------ queries

# One round of the search stream: one query of each class, in order.
QUERY_CLASSES = (
    "term_hot", "term_rare", "and", "or_not", "phrase", "prefix",
    "fuzzy", "filtered",
)
POOL_SIZE = 12  # queries per class; the stream draws with replacement


def _one_edit(rng: random.Random, word: str) -> str:
    i = rng.randrange(1, len(word))
    c = "q" if word[i] != "q" else "z"
    return word[:i] + c + word[i + 1:]


def query_pools(seed: int, ref) -> dict[str, list[dict]]:
    """POOL_SIZE queries per class, chosen from the reference index
    ``ref`` (ref.RefIndex) so that term frequencies are known.

    A query is a dict: ``cls``, ``text`` (the query string the engine
    parses), ``tree`` (the same query for the reference evaluator) and
    ``filters`` (None or a {"lang"|"path_prefix": value} dict).
    """
    rng = random.Random(f"queries-{seed}")
    n = ref.n_docs
    words = [t for t in ref.df if t.isalnum() and t.isascii()]
    hot = sorted(words, key=lambda t: -ref.df[t])[:12]
    rare = sorted(t for t in words if ref.df[t] == 1 and len(t) > 6)
    mid = sorted(t for t in words if n // 50 <= ref.df[t] <= n // 4)
    long_mid = [t for t in mid if len(t) >= 8]
    pools: dict[str, list[dict]] = {c: [] for c in QUERY_CLASSES}

    def add(cls, text, tree, filters=None):
        pools[cls].append(
            {"cls": cls, "text": text, "tree": tree, "filters": filters}
        )

    for _ in range(POOL_SIZE):
        t = rng.choice(hot)
        add("term_hot", t, ("term", t))
        t = rng.choice(rare)
        add("term_rare", t, ("term", t))
        # the terms of one query are distinct: the engine merges
        # identical leaves, the reference would count them twice
        a = rng.choice(hot)
        b = rng.choice([t for t in mid if t != a])
        add("and", f"{a} AND {b}", ("and", [("term", a), ("term", b)]))
        (a, b), c = rng.sample(mid, 2), rng.choice(hot[3:])
        add(
            "or_not",
            f"({a} OR {b}) AND NOT {c}",
            ("not", ("or", [("term", a), ("term", b)]), ("term", c)),
        )
        slots = ref.sample_phrase(rng)
        add("phrase", '"' + " ".join(slots) + '"', ("phrase", slots))
        w = rng.choice(long_mid)
        p = w[: rng.choice((3, 4, 5))]
        add("prefix", p + "*", ("prefix", p))
        w = rng.choice(long_mid)
        q = _one_edit(rng, w)
        add("fuzzy", q + "~1", ("fuzzy", q, 1))
        t = rng.choice(hot + mid)
        if rng.random() < 0.5:
            flt = {"lang": rng.choice(sorted(set(_EXTS.values())))}
        else:
            flt = {"path_prefix": f"src/{rng.choice(_PKGS)}/"}
        add("filtered", t, ("term", t), flt)
    return pools


def query_round(rng: random.Random, pools: dict[str, list[dict]]) -> list[dict]:
    """One round: a draw from each class pool, in QUERY_CLASSES order."""
    return [rng.choice(pools[c]) for c in QUERY_CLASSES]
