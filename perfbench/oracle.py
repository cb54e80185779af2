"""Correctness checks that do not use the engine's code.

- :class:`DuckBM25` indexes the corpus again in DuckDB with the
  tantivy_default rules (Unicode alphanumeric runs without ``_``,
  lowercased, tokens of 40 bytes or more dropped) and scores BM25 with
  k1 = 1.2, b = 0.75 in SQL, for term, OR, AND, NOT and boost queries.
- :func:`phrase_positions` re-tokenizes a file in Python to test that a
  phrase hit holds the phrase as adjacent tokens.

Every check returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

import re

import duckdb
import pandas as pd

K1, B = 1.2, 0.75
_TOKEN = re.compile(r"[^\W_]+")
_SIMPLE = re.compile(r"^[^\W_]+(\^\d+)?( (AND |NOT )?[^\W_]+(\^\d+)?)*$")


def phrase_positions(text: str) -> dict[str, list[int]]:
    """term -> positions; positions count every token, long ones too."""
    out: dict[str, list[int]] = {}
    for pos, m in enumerate(_TOKEN.finditer(text)):
        tok = m.group(0)
        if len(tok.encode("utf-8")) < 40:
            out.setdefault(tok.lower(), []).append(pos)
    return out


def has_phrase(text: str, terms: list[str]) -> bool:
    pos = phrase_positions(text)
    starts = set(pos.get(terms[0], []))
    for i, t in enumerate(terms[1:], 1):
        starts &= {p - i for p in pos.get(t, [])}
    return bool(starts)


def parse_simple(q: str) -> list[tuple[str, float, str]] | None:
    """``a b``, ``a AND b``, ``a NOT b``, ``a^2 b`` → [(term, boost, occur)].
    Returns None for shapes this oracle does not score (phrase, prefix)."""
    if not _SIMPLE.match(q):
        return None
    clauses: list[tuple[str, float, str]] = []
    occur = "should"
    for w in q.split(" "):
        if w == "AND":
            t, bst, _ = clauses[-1]
            clauses[-1] = (t, bst, "must")
            occur = "must"
        elif w == "NOT":
            occur = "must_not"
        else:
            term, _, boost = w.partition("^")
            clauses.append((term.lower(), float(boost) if boost else 1.0, occur))
            occur = "should"
    return clauses


class DuckBM25:
    """BM25 over a corpus frame ``(doc_id, content)`` computed in DuckDB."""

    def __init__(self, corpus: pd.DataFrame) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.register("corpus_src", corpus[["doc_id", "content"]])
        self.con.execute(
            r"""
            CREATE TABLE toks AS
            SELECT doc_id, lower(tok) AS term FROM (
              SELECT doc_id, unnest(regexp_extract_all(content, '[\p{L}\p{N}]+')) AS tok
              FROM corpus_src)
            WHERE strlen(tok) < 40
            """
        )
        self.n_docs = int(self.con.execute("SELECT count(*) FROM corpus_src").fetchone()[0])
        self.total_tokens = int(self.con.execute("SELECT count(*) FROM toks").fetchone()[0])
        self.avgdl = self.total_tokens / self.n_docs
        self.con.execute(
            "CREATE TABLE tf AS SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY ALL"
        )
        self.n_postings = int(self.con.execute("SELECT count(*) FROM tf").fetchone()[0])
        self.con.execute(
            f"""
            CREATE TABLE scored AS
            WITH dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
                 df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
            SELECT tf.term, tf.doc_id,
                   ln(1 + ({self.n_docs} - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * {K1 + 1}
                   / (tf.tf + {K1} * (1 - {B} + {B} * dl.dl / {self.avgdl!r})) AS s
            FROM tf JOIN dl USING (doc_id) JOIN df USING (term)
            """
        )
        self.con.unregister("corpus_src")

    def close(self) -> None:
        self.con.close()

    def search(self, q: str, k: int) -> pd.DataFrame | None:
        clauses = parse_simple(q)
        if clauses is None:
            return None
        pos = [(t, b) for t, b, o in clauses if o != "must_not"]
        musts = sorted({t for t, _, o in clauses if o == "must"})
        nots = sorted({t for t, _, o in clauses if o == "must_not"})
        weights = ", ".join(f"('{t}', {b!r})" for t, b in pos)
        sql = f"""
            SELECT s.doc_id, sum(s.s * w.b) AS score
            FROM scored s JOIN (VALUES {weights}) AS w(term, b) USING (term)
            GROUP BY s.doc_id
        """
        if musts:
            ml = ", ".join(f"'{t}'" for t in musts)
            sql += f"""HAVING count(DISTINCT s.term) FILTER (WHERE s.term IN ({ml}))
                        = {len(musts)}"""
        if nots:
            nl = ", ".join(f"'{t}'" for t in nots)
            sql = f"""SELECT * FROM ({sql}) WHERE doc_id NOT IN
                      (SELECT doc_id FROM tf WHERE term IN ({nl}))"""
        sql = f"SELECT * FROM ({sql}) ORDER BY score DESC, doc_id ASC LIMIT {int(k)}"
        return self.con.execute(sql).df()


def order_problem(df: pd.DataFrame) -> str | None:
    """Rows must come in ``(score DESC, doc_id ASC)`` order."""
    sc = df["score"].astype(float).to_numpy()
    ids = df["doc_id"].astype("int64").to_numpy()
    for i in range(len(sc) - 1):
        if sc[i + 1] > sc[i] or (sc[i + 1] == sc[i] and ids[i + 1] < ids[i]):
            return f"row {i + 1} ({ids[i + 1]}, {sc[i + 1]!r}) is out of order"
    return None


def compare_topk(name: str, got: pd.DataFrame, want: pd.DataFrame, tol: float = 1e-6) -> list[str]:
    """``got`` is in ``(score DESC, doc_id ASC)`` order and holds the same
    doc ids as ``want``, scores within ``tol``. The two are matched after
    sorting both by (score rounded to 1e-9 DESC, doc_id), so that scores
    that differ only in their last bits count as a tie."""

    def canon(df: pd.DataFrame) -> pd.DataFrame:
        d = pd.DataFrame(
            {"doc_id": df["doc_id"].astype("int64").to_numpy(), "score": df["score"].astype(float).to_numpy()}
        )
        d["r"] = d["score"].round(9)
        return d.sort_values(["r", "doc_id"], ascending=[False, True]).reset_index(drop=True)

    bad = order_problem(got)
    if bad:
        return [f"{name}: {bad}"]
    g, w = canon(got), canon(want)
    if len(g) != len(w):
        return [f"{name}: {len(g)} hits, expected {len(w)}"]
    if not (g["doc_id"].to_numpy() == w["doc_id"].to_numpy()).all():
        return [f"{name}: doc ids {g['doc_id'].tolist()[:5]}... expected {w['doc_id'].tolist()[:5]}..."]
    err = float((g["score"] - w["score"]).abs().max()) if len(g) else 0.0
    if err > tol:
        return [f"{name}: score differs by {err:.3g}"]
    return []
