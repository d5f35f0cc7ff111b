"""Seeded inputs for the benchmark: a source-code corpus, planted
near-duplicates and a query request stream.

Every row is a pure function of ``(seed, row number)``: row ``i`` of a run
with seed ``s`` is global row ``s * ROW_STRIDE + i`` and draws from its own
generator, so the same seed always gives the same rows in any order, two
seeds never share a row, and append batches take fresh rows that follow the
base corpus.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

from cascading_solr_spark.analyzer import tokenize, tokenize_with_positions

ROW_STRIDE = 10_000_000

LANGS = ("python", "java", "scala", "go", "javascript")
_EXT = {"python": "py", "java": "java", "scala": "scala", "go": "go",
        "javascript": "js"}
_KEYWORDS = {
    "python": ("import", "return", "def", "class", "self", "for", "if", "in"),
    "java": ("import", "return", "public", "void", "class", "static", "new",
             "final"),
    "scala": ("import", "return", "def", "class", "val", "var", "new",
              "object"),
    "go": ("import", "return", "func", "type", "struct", "var", "range",
           "nil"),
    "javascript": ("import", "return", "function", "const", "let", "var",
                   "new", "async"),
}
_STEMS = (
    "parse", "buffer", "stream", "index", "query", "shard", "merge", "token",
    "score", "fetch", "cache", "retry", "client", "server", "http", "json",
    "codec", "block", "batch", "write", "read", "split", "hash", "salt",
    "count", "limit", "offset", "field", "value", "table", "row", "column",
)
_VOCAB = 4000  # Zipf-ranked identifiers: a few common stems, a long rare tail
_ZIPF = 1.3

CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]


def _word(rank: int) -> str:
    stem = _STEMS[rank % len(_STEMS)]
    return stem if rank < len(_STEMS) else f"{stem}{rank}"


def _row(g: int) -> tuple[str, str, str, str, str]:
    rng = np.random.default_rng(g)
    lang = LANGS[g % len(LANGS)]
    kw = _KEYWORDS[lang]
    words = [_word(int(r)) for r in
             np.minimum(rng.zipf(_ZIPF, size=400) - 1, _VOCAB - 1)]
    stems = rng.integers(0, len(_STEMS), size=200)
    w = iter(words)
    s = iter(stems)
    lines = [f"{kw[0]} {next(w)}.{next(w)}"]
    for _ in range(int(rng.integers(2, 7))):
        a, b, c = (_STEMS[next(s)] for _ in range(3))
        fn = a + b.capitalize() + c.capitalize()
        lines.append(f"{kw[2]} {fn}({a}_{b}, {c}):")
        for k in range(int(rng.integers(2, 12))):
            lines.append(
                f"    {next(w)}_{next(w)} = {next(w)}.{_STEMS[next(s)]}({k}) "
                f"{kw[int(rng.integers(0, len(kw)))]} {next(w)}"
            )
        lines.append(f"    {kw[1]} {fn}Result")
    repo = f"org{g % 11}/proj{g % 29}"
    path = f"src/{words[-1]}/{words[-2]}_{g}.{_EXT[lang]}"
    commit = hashlib.sha256(f"commit-{g}".encode()).hexdigest()[:12]
    return repo, path, commit, lang, "\n".join(lines)


def corpus(seed: int, start: int, n: int) -> pd.DataFrame:
    """Rows ``start .. start+n-1`` of the seed's corpus."""
    base = seed * ROW_STRIDE + start
    return pd.DataFrame([_row(base + i) for i in range(n)],
                        columns=CORPUS_COLUMNS)


def plant_duplicates(
    batch: pd.DataFrame, n_dups: int, rng: np.random.Generator
) -> tuple[pd.DataFrame, list[tuple[int, int, bool]]]:
    """Overwrite the content of the last ``n_dups`` rows with copies of
    earlier rows: even-numbered plants are exact copies, odd ones have one
    line edited.  Returns the batch and ``(original, copy, exact)`` row
    positions; keys (path, commit) stay distinct."""
    batch = batch.copy()
    n = len(batch)
    originals = rng.choice(n - n_dups, size=n_dups, replace=False)
    planted = []
    for j, orig in enumerate(originals):
        dst = n - n_dups + j
        text = batch.at[int(orig), "content"]
        exact = j % 2 == 0
        if not exact:
            lines = text.split("\n")
            at = int(rng.integers(1, len(lines)))
            lines[at] = lines[at] + f" edited{int(rng.integers(1000))}"
            text = "\n".join(lines)
        batch.at[dst, "content"] = text
        planted.append((int(orig), dst, exact))
    return batch, planted


def input_bytes(df: pd.DataFrame) -> int:
    """UTF-8 bytes of every corpus column: the size of the raw input."""
    return int(sum(df[c].str.len().sum() for c in CORPUS_COLUMNS))


def sha256_by_key(df: pd.DataFrame) -> dict[tuple[str, str, str], str]:
    return {
        (r.repo, r.path, r.commit): hashlib.sha256(r.content.encode()).hexdigest()
        for r in df.itertuples(index=False)
    }


class TermPicker:
    """Draws query terms from the built index dictionary by df band: terms
    of a sampled document whose df is mid-band (selective) and, for the hot
    form, one term held by a large share of the corpus."""

    def __init__(self, dict_df: pd.DataFrame, n_docs: int, docs: pd.DataFrame):
        plain = dict_df[~dict_df["term"].str.contains(":")]
        lo, hi = max(2, int(n_docs * 0.005)), max(3, int(n_docs * 0.08))
        self.mid = set(plain.loc[(plain.df >= lo) & (plain.df <= hi), "term"])
        hot = plain.loc[plain.df >= n_docs * 0.3, "term"].sort_values()
        self.hot = list(hot) or list(plain.nlargest(5, "df")["term"])
        self.docs = docs

    def doc_terms(self, content: str, rng, n: int = 2) -> list[str]:
        cands = sorted(set(tokenize(content)) & self.mid)
        if not cands:
            cands = sorted(set(tokenize(content)))
        pick = rng.choice(len(cands), size=min(n, len(cands)), replace=False)
        return [cands[int(i)] for i in pick]

    def terms(self, rng, n: int = 2) -> list[str]:
        row = int(rng.integers(len(self.docs)))
        return self.doc_terms(self.docs.at[row, "content"], rng, n)

    def phrase(self, rng) -> str:
        """Two words at adjacent positions of a sampled document line."""
        while True:
            row = int(rng.integers(len(self.docs)))
            lines = self.docs.at[row, "content"].split("\n")
            line = lines[int(rng.integers(len(lines)))]
            first: dict[int, str] = {}
            for term, pos in tokenize_with_positions(line):
                if term.isalpha():
                    first.setdefault(pos, term)
            pairs = [(first[p], first[p + 1]) for p in sorted(first)
                     if p + 1 in first]
            if pairs:
                a, b = pairs[int(rng.integers(len(pairs)))]
                return f'"{a} {b}"'


#: every block of 20 single requests holds these forms, as (count, of them
#: with a hot term): each run gets the same mix, in a seeded order
FORM_BLOCK = {"or": (10, 4), "stored": (3, 1), "and": (3, 0),
              "filter": (2, 1), "phrase": (2, 0)}


def forms(rng):
    """Endless stream of ``(form, hot)``, shuffled block by block."""
    block = [(f, i < hot) for f, (n, hot) in FORM_BLOCK.items()
             for i in range(n)]
    while True:
        yield from (block[int(i)] for i in rng.permutation(len(block)))


def request(picker: TermPicker, form: str, hot: bool, rng) -> dict:
    """One seeded request: ``{"form", "q", optional "filters"}``."""
    if form == "phrase":
        return {"form": form, "q": picker.phrase(rng)}
    terms = picker.terms(rng)
    if hot:
        terms.append(picker.hot[int(rng.integers(len(picker.hot)))])
    req = {"form": form, "q": " ".join(terms)}
    if form == "filter":
        req["filters"] = {"lang": LANGS[int(rng.integers(len(LANGS)))]}
    return req
