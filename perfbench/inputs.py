"""Seeded inputs of the benchmark: the source-file corpus and the query sets.

Everything here is a pure function of the seed, generated with numpy's
PCG64 generator, so the same ``--seed`` gives byte-identical inputs on any
machine. Nothing is imported from the engine: the inputs a change is
measured on cannot move with the change.

Corpus rows are ``(repo, path, commit, lang, content)``; the loader in
``workloads.py`` adds ``doc_id = xxhash64(repo, path, commit)`` with
Spark's own ``F.xxhash64``. Properties the engine's behaviour depends on:

- terms are drawn Zipf(``CONTENT_ZIPF``) over ``N_SLOTS`` vocabulary
  slots that hold ~1,100 distinct terms (the shape of
  ``fugu_spark/corpus.py``: 5,000 slots, Zipf 1.1, ~1,100 distinct
  index terms; see :func:`slot_terms`), so a hot head of terms sits in
  nearly every file and a long tail of terms in a handful of files each;
- file lengths are log-uniform between 50 and 2000 tokens;
- repos are drawn Zipf(``REPO_ZIPF``), so one repo is hot;
- surface forms exercise the tokenizer: capitalised words, ``_`` and
  ``.`` joins, punctuation runs, tokens of 40 bytes or more (dropped but
  still counted in positions) and, in a few files, non-ASCII words;
- :func:`new_versions` makes replaced versions of existing files (same
  repo and path, new commit, new content) for the upserts.

The query shapes and their shares and the query exponent
``QUERY_ZIPF`` are assumptions, not measured from traffic: the shapes
are those of ``bench.py``'s query sets, plus prefix queries.
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd

N_SLOTS = 5000  # Zipf slots of the vocabulary
N_HEAD = 30  # one-syllable words: three slots in five
N_MID = 60  # a head word and two digits: every fifth slot from slot 0
CONTENT_ZIPF = 1.1
QUERY_ZIPF = 1.0
REPO_ZIPF = 1.2
N_REPOS = 40
MIN_TOKENS, MAX_TOKENS = 50, 2000
LONG_TOKEN_P = 0.002  # share of tokens rendered as a >= 40-byte run
UNICODE_FILE_P = 0.03  # share of files that carry non-ASCII words
HOT_PHRASE_RANK = 14  # the hot phrase batch pairs the terms from this rank on
TAIL_SLOT = 60  # cold queries: tail terms of slots at or past this one

_SYLLABLES = [
    "ba", "ce", "di", "fo", "gu", "ha", "je", "ki", "lo", "mu", "na", "pe",
    "qi", "ro", "su", "ta", "ve", "wi", "xo", "yu", "za", "br", "cl", "dr",
    "st", "tr", "sh", "ch", "th", "nd", "rk", "mp",
]
_UNICODE_WORDS = ["über", "naïve", "café", "größe", "señal", "façade", "jalapeño", "smörgås"]
_UNICODE_SLOTS = [58, 83, 103, 128, 153, 178, 203, 233]  # tail slots
_DIRS = ["src", "lib", "core", "server", "index", "query", "util", "net", "api", "tests"]
_LANGS = [("py", 0.3), ("rs", 0.2), ("go", 0.15), ("js", 0.15), ("java", 0.1), ("c", 0.1)]
_PUNCT = ["(", ")", "=", "==", "->", "{", "}", ";", ",", "+="]


def zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    c = np.cumsum(w)
    return c / c[-1]


def _draw(rng: np.random.Generator, cdf: np.ndarray, n: int) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(n)), len(cdf) - 1)


@functools.lru_cache(maxsize=4)
def slot_terms(seed: int) -> tuple[str, ...]:
    """The index term of each of the ``N_SLOTS`` Zipf slots, slot 0 the
    heaviest. Like ``fugu_spark/corpus.py``'s 5,000-slot vocabulary (1,084
    distinct strings), the slots map to ~1,100 distinct terms: in each run
    of five slots, three hold one of ``N_HEAD`` head words, one holds one
    of ``N_MID`` mid words (head word and digits, as ``merge42``) and one,
    slot ``i`` with ``i % 5 == 3``, holds a tail term of its own (an
    identifier of 2–4 syllables, sometimes with digits), so a tail term's
    frequency is that of its one slot.

    Words are sequences of two-letter syllables drawn once, the same for
    every seed; the seed relabels the syllables. So every seed has the
    same structure (term lengths, the non-ASCII words' slots, and how
    many terms share a prefix cut on a syllable boundary) and different
    terms."""
    relabel = np.random.default_rng([seed, 1]).permutation(len(_SYLLABLES))

    def word(syl: tuple[int, ...], digits: str = "") -> str:
        return "".join(_SYLLABLES[relabel[i]] for i in syl) + digits

    head = [word((h,)) for h in range(N_HEAD)]
    mid = [head[j % N_HEAD] + str(10 + 7 * j % 90) for j in range(N_MID)]
    shape = np.random.default_rng(0)
    seen: set[tuple[tuple[int, ...], str]] = set()
    tail: list[str] = []
    for r in range(N_SLOTS // 5):
        while True:
            w = (
                tuple(int(i) for i in shape.integers(0, len(_SYLLABLES), 2 + r % 3)),
                str(int(shape.integers(10, 100))) if r % 8 == 5 else "",
            )
            if w not in seen:
                break
        seen.add(w)
        tail.append(word(*w))
    out = []
    for i in range(N_SLOTS):
        if i % 5 == 3:
            out.append(tail[i // 5])
        elif i % 5 == 0:
            out.append(mid[i // 5 % N_MID])
        else:
            out.append(head[(7 * i + i % 5) % N_HEAD])
    for w, i in zip(_UNICODE_WORDS, _UNICODE_SLOTS):
        out[i] = w
    return tuple(out)


@functools.lru_cache(maxsize=4)
def build_vocab(seed: int) -> tuple[str, ...]:
    """The distinct terms of :func:`slot_terms`, hottest first (by their
    slots' summed Zipf weight; ties by first slot)."""
    slots = slot_terms(seed)
    weight = 1.0 / np.power(np.arange(1, N_SLOTS + 1, dtype=np.float64), CONTENT_ZIPF)
    total: dict[str, float] = {}
    for w, x in zip(slots, weight):
        total[w] = total.get(w, 0.0) + x
    return tuple(sorted(total, key=lambda w: -total[w]))


def tail_terms(seed: int) -> list[str]:
    """Terms of a slot of their own at ``TAIL_SLOT`` or later (ASCII):
    rare identifiers."""
    slots = slot_terms(seed)
    return [slots[i] for i in range(TAIL_SLOT, N_SLOTS) if i % 5 == 3 and slots[i].isascii()]


def _render(rng: np.random.Generator, words: np.ndarray, unicode_ok: bool) -> str:
    """One file's content from its term sequence: surface decoration that
    the tokenizer undoes (case, ``_``/``.`` joins, punctuation runs) plus
    long tokens that occupy a position but are not indexed."""
    n = len(words)
    u = rng.random((4, n))
    parts: list[str] = []
    for i, w in enumerate(words):
        if not unicode_ok and not w.isascii():
            w = "ascii"  # an ASCII stand-in keeps such files on the byte path
        if u[0, i] < 0.08:
            w = w.capitalize()
        elif u[0, i] < 0.10 and w.isascii():
            w = w.upper()
        if u[1, i] < LONG_TOKEN_P:
            parts.append("z" * int(40 + u[2, i] * 20))
            parts.append(" ")
        parts.append(w)
        r = u[3, i]
        if r < 0.06:
            parts.append("_")
        elif r < 0.10:
            parts.append(".")
        elif r < 0.16:
            parts.append(" " + _PUNCT[int(r * 1000) % len(_PUNCT)] + " ")
        elif r < 0.20:
            parts.append("\n")
        else:
            parts.append(" ")
    return "".join(parts).rstrip()


def _lengths(rng: np.random.Generator, n: int) -> np.ndarray:
    """Log-uniform file lengths, stratified: the n quantiles in a seeded
    order, so every seed gives the same total."""
    lo, hi = np.log(MIN_TOKENS), np.log(MAX_TOKENS)
    q = (np.arange(n) + 0.5) / n
    return rng.permutation(np.exp(lo + (hi - lo) * q).astype(np.int64))


def _commit(seed: int, repo: str, path: str, version: int) -> str:
    return hashlib.sha1(f"{seed}:{repo}:{path}:{version}".encode()).hexdigest()


def _contents(rng, vocab_arr: np.ndarray, cdf: np.ndarray, lens: np.ndarray) -> list[str]:
    words = vocab_arr[_draw(rng, cdf, int(lens.sum()))]
    offs = np.concatenate([[0], np.cumsum(lens)])
    uni = rng.random(len(lens)) < UNICODE_FILE_P
    out = []
    for j in range(len(lens)):
        out.append(_render(rng, words[offs[j] : offs[j + 1]], bool(uni[j])))
    return out


def make_corpus(seed: int, n_files: int, stream: int = 0) -> pd.DataFrame:
    """``n_files`` distinct files. ``stream`` separates corpora drawn
    from the same seed (the base corpus and each batch of new files)."""
    rng = np.random.default_rng([seed, 2, stream])
    vocab_arr = np.array(slot_terms(seed), dtype=object)
    cdf = zipf_cdf(N_SLOTS, CONTENT_ZIPF)
    repo_j = _draw(rng, zipf_cdf(N_REPOS, REPO_ZIPF), n_files)
    repos = [f"org{j % 5}/repo{j}" for j in repo_j]
    lang_p = np.array([p for _, p in _LANGS])
    lang_j = rng.choice(len(_LANGS), n_files, p=lang_p / lang_p.sum())
    langs = [_LANGS[j][0] for j in lang_j]
    dirs = rng.integers(0, len(_DIRS), (n_files, 2))
    paths = [
        f"{_DIRS[a]}/{_DIRS[b]}/f{stream}_{i}.{lg}"
        for i, ((a, b), lg) in enumerate(zip(dirs, langs))
    ]
    contents = _contents(rng, vocab_arr, cdf, _lengths(rng, n_files))
    return pd.DataFrame(
        {
            "repo": repos,
            "path": paths,
            "commit": [_commit(seed, r, p, 1) for r, p in zip(repos, paths)],
            "lang": langs,
            "content": contents,
        }
    )


def new_versions(seed: int, old: pd.DataFrame, version: int) -> pd.DataFrame:
    """Replaced versions of ``old``'s files: same repo and path, a new
    commit, content re-drawn."""
    rng = np.random.default_rng([seed, 3, version])
    vocab_arr = np.array(slot_terms(seed), dtype=object)
    cdf = zipf_cdf(N_SLOTS, CONTENT_ZIPF)
    out = old[["repo", "path", "lang"]].reset_index(drop=True).copy()
    out["commit"] = [_commit(seed, r, p, version) for r, p in zip(out["repo"], out["path"])]
    out["content"] = _contents(rng, vocab_arr, cdf, _lengths(rng, len(out)))
    return out[["repo", "path", "commit", "lang", "content"]]


def with_marker(df: pd.DataFrame, marker: str) -> pd.DataFrame:
    """``df`` with ``marker`` appended to every file, so the files can be
    found by a term no other file has."""
    out = df.copy()
    out["content"] = out["content"] + " " + marker
    return out


# ------------------------------------------------------------------ queries

# query shapes of the serve stream and their shares
SERVE_SHAPES = [
    ("term", 0.15),
    ("or", 0.20),
    ("and", 0.15),
    ("not", 0.10),
    ("boost", 0.10),
    ("phrase", 0.10),
    ("prefix", 0.10),
    ("wide_or", 0.10),
]
# batch shapes, in equal shares (phrases get a batch of their own)
BATCH_SHAPES = ["{a} {b}", "{a} AND {b}", "{a} NOT {b}", "{a}^2 {b}", "{a} {b} {c}"]
# standing-query shapes, in equal shares; "phrase" is a corpus bigram
STANDING_SHAPES = ["{a} {b}", "{a} AND {b}", "{a} NOT {b}", "phrase"]


def bigrams(contents: list[str], within: set[str] | None = None) -> list[tuple[tuple[str, str], int]]:
    """Every distinct adjacent index-term pair of the corpus with its
    count, sorted, so phrase queries drawn from them have hits;
    ``within`` limits both terms to a set. Pairs with a long or
    non-ASCII token, or of a term with itself, are left out."""
    import re
    from collections import Counter

    tok = re.compile(r"[^\W_]+")
    out: Counter[tuple[str, str]] = Counter()
    for text in contents:
        toks = [t.lower() for t in tok.findall(text)]
        for a, b in zip(toks, toks[1:]):
            if a != b and len(a) < 40 and len(b) < 40 and a.isascii() and b.isascii():
                if within is None or (a in within and b in within):
                    out[a, b] += 1
    return sorted(out.items())


class Queries:
    """Seeded query sets of one workload.

    ``hot``: terms drawn Zipf(``QUERY_ZIPF``) over the vocabulary's
    slots, so head terms with long posting lists repeat. ``cold``: terms
    drawn uniformly from :func:`tail_terms`, short posting lists that
    rarely repeat; phrases whose two terms are both tail terms.
    """

    def __init__(self, seed: int, contents: list[str], hot: bool) -> None:
        self.seed = seed
        self.contents = contents
        self.hot = hot
        self.vocab = build_vocab(seed)
        self.slots = slot_terms(seed)
        self.tail = tail_terms(seed)
        self._cdf = zipf_cdf(N_SLOTS, QUERY_ZIPF)
        self._bigrams: list[tuple[tuple[str, str], int]] | None = None

    def _rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, 4, int(self.hot), *stream])

    def terms(self, rng: np.random.Generator, n: int) -> list[str]:
        """``n`` terms by stratified sampling: one uniform draw in each of
        ``n`` equal strata, in a seeded order, so every seed draws nearly
        the same multiset of slots."""
        u = (rng.permutation(n) + rng.random(n)) / n
        if self.hot:
            return [self.slots[i] for i in np.minimum(np.searchsorted(self._cdf, u), N_SLOTS - 1)]
        return [self.tail[i] for i in (u * len(self.tail)).astype(np.int64)]

    def phrases(self, rng: np.random.Generator, n: int) -> list[str]:
        """``n`` two-term phrases drawn from the corpus's bigrams. ``hot``:
        in proportion to their counts, so frequent phrases repeat;
        ``cold``: bigrams of two tail terms, uniformly and distinct while
        there are enough."""
        if self._bigrams is None:
            self._bigrams = bigrams(self.contents, None if self.hot else set(self.tail))
        pairs = [p for p, _ in self._bigrams]
        if self.hot:
            counts = np.array([c for _, c in self._bigrams], dtype=np.float64)
            take = rng.choice(len(pairs), n, p=counts / counts.sum())
        else:
            take = rng.choice(len(pairs), n, replace=n > len(pairs))
        return [f'"{pairs[i][0]} {pairs[i][1]}"' for i in take]

    def serve(self, n: int, stream: int = 0) -> list[tuple[str, str]]:
        """``n`` (shape, query) pairs in ``SERVE_SHAPES`` shares. A prefix
        query is the first two syllables of the first of its drawn terms
        that has two (four letters; syllables are two letters), so its
        expansion count is the same for every seed and stays under the
        engine's cap of 50 expansions."""
        rng = self._rng(0, stream)
        # exact shares in every block of 20, in a seeded order
        block = [name for name, share in SERVE_SHAPES for _ in range(round(share * 20))]
        shapes = [sh for _ in range(-(-n // len(block))) for sh in rng.permutation(block)][:n]
        words = self.terms(rng, 8 * n)
        phrases = iter(self.phrases(rng, shapes.count("phrase")))
        out = []
        for j, shape in enumerate(shapes):
            t = words[8 * j : 8 * j + 8]
            a, b = t[0], t[1]
            q = {
                "term": a,
                "or": f"{a} {b}",
                "and": f"{a} AND {b}",
                "not": f"{a} NOT {b}",
                "boost": f"{a}^2 {b}",
                "prefix": next((w for w in t if len(w) >= 4), self.tail[0])[:4] + "*",
                "wide_or": " ".join(t),
            }.get(shape)
            out.append((shape, next(phrases) if shape == "phrase" else q))
        return out

    def batch(self, n: int) -> dict[int, str]:
        rng = self._rng(1)
        t = self.terms(rng, 3 * n)
        return {
            i: BATCH_SHAPES[i % len(BATCH_SHAPES)].format(a=t[3 * i], b=t[3 * i + 1], c=t[3 * i + 2])
            for i in range(n)
        }

    def phrase_batch(self, n: int) -> dict[int, str]:
        """Exact two-term phrases. ``hot``: the terms at ranks
        ``HOT_PHRASE_RANK`` and up, in pairs, with many positions per
        file; ``cold``: tail bigrams seen in the corpus."""
        if self.hot:
            r = HOT_PHRASE_RANK
            return {i: f'"{self.vocab[r + 2 * i]} {self.vocab[r + 2 * i + 1]}"' for i in range(n)}
        return dict(enumerate(self.phrases(self._rng(2), n)))

    def standing(self, n: int) -> dict[int, str]:
        rng = self._rng(3)
        t = self.terms(rng, 2 * n)
        phrases = iter(self.phrases(rng, n // len(STANDING_SHAPES) + 1))
        out = {}
        for i in range(n):
            shape = STANDING_SHAPES[i % len(STANDING_SHAPES)]
            out[i] = next(phrases) if shape == "phrase" else shape.format(a=t[2 * i], b=t[2 * i + 1])
        return out
