"""Dictionary / lexicon tagging over a text corpus.

The workhorse behind blocklist auditing, PII keyword sweeps, brand-
safety tagging and weak-supervision labeling functions: given a
phrase dictionary, count every phrase's occurrences in every
document. (The reference's pipeline greps fixed markers out of post
HTML one pattern at a time — code/htmlConverter.py's class lookups
are the 2-phrase special case of this.)

Counting contract (identical across impls and the SQL oracle):
per-phrase GREEDY LEFT-TO-RIGHT NON-OVERLAPPING occurrences —
exactly what `replace(text, p, '')` removes — with phrases counted
independently of each other (two different phrases may overlap).

Two physical paths:

- impl="expr" (default): one projection computing every phrase's
  replace-length count as a JVM expression column, exploded to
  (doc, phrase, n) rows. ONE scan, zero joins, zero Python — but
  each phrase is its own pass over the text value, so cost is
  O(|dict| · corpus): right for bounded dictionaries (tens to
  hundreds of phrases), and exactly mirrorable in SQL.
- impl="arrow": Aho-Corasick automaton (goto/fail links) built once
  per executor from the broadcast dictionary, then ONE left-to-right
  pass per document regardless of dictionary size — the 100 TB path
  for 10k+-phrase dictionaries where k passes are unaffordable.
  Matches are counted at word ends with per-phrase greedy
  suppression, reproducing the replace contract bit-for-bit
  (equivalence pytest). Python-speed per character; at real scale
  swap the inner loop for a compiled automaton behind the same
  seam.

Both paths stay: the registered queries `dictionary_tag_docs` and
`dictionary_tag_arrow_docs` each select one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _build_automaton(phrases: list[str]):
    """Aho-Corasick goto/fail/output tables (BFS construction)."""
    goto: list[dict[str, int]] = [{}]
    out: list[list[int]] = [[]]
    for idx, p in enumerate(phrases):
        node = 0
        for ch in p:
            nxt = goto[node].get(ch)
            if nxt is None:
                goto.append({})
                out.append([])
                nxt = len(goto) - 1
                goto[node][ch] = nxt
            node = nxt
        out[node].append(idx)
    fail = [0] * len(goto)
    from collections import deque
    q = deque()
    for ch, nxt in goto[0].items():
        q.append(nxt)
    while q:
        node = q.popleft()
        for ch, nxt in goto[node].items():
            q.append(nxt)
            f = fail[node]
            while f and ch not in goto[f]:
                f = fail[f]
            fail[nxt] = goto[f].get(ch, 0) if goto[f].get(ch, 0) != nxt else 0
            out[nxt] = out[nxt] + out[fail[nxt]]
    return goto, fail, out


def _ac_counts(text: str, phrases: list[str], automaton) -> list[int]:
    """One pass, per-phrase greedy non-overlapping counts (the
    replace() contract): a phrase occurrence is counted only if it
    starts at or after the end of that phrase's previous counted
    occurrence."""
    goto, fail, out = automaton
    counts = [0] * len(phrases)
    last_end = [0] * len(phrases)
    node = 0
    for pos, ch in enumerate(text):
        while node and ch not in goto[node]:
            node = fail[node]
        node = goto[node].get(ch, 0)
        if out[node]:
            for idx in out[node]:
                start = pos - len(phrases[idx]) + 1
                if start >= last_end[idx]:
                    counts[idx] += 1
                    last_end[idx] = pos + 1
    return counts


def dictionary_tag(docs: DataFrame, phrases: list[str], *,
                   id_col: str = "doc_id", text_col: str = "text",
                   impl: str = "expr") -> DataFrame:
    """Per-document phrase-occurrence counts over a fixed dictionary.

    Returns one row per (document, phrase) with n > 0 occurrences.
    Columns: <id_col>, phrase, n. See module docstring for the
    counting contract and the expr/arrow physical split.
    """
    if not phrases:
        raise ValueError("dictionary_tag needs at least one phrase")
    if len(set(phrases)) != len(phrases):
        raise ValueError("duplicate phrases in dictionary")
    if any(p == "" for p in phrases):
        # expr would divide by len("")=0 (NULL, row silently dropped)
        # while arrow would count a "match" at every character — fail
        # fast instead of letting the two impls diverge (ADVICE r8)
        raise ValueError("empty-string phrase in dictionary")
    if impl == "expr":
        t = F.col(text_col)
        entries = [
            F.struct(
                F.lit(p).alias("phrase"),
                ((F.length(t) - F.length(F.replace(t, F.lit(p), F.lit(""))))
                 / F.lit(len(p))).cast("long").alias("n"))
            for p in phrases
        ]
        return (docs
                .select(F.col(id_col),
                        F.explode(F.array(*entries)).alias("e"))
                .select(id_col, F.col("e.phrase").alias("phrase"),
                        F.col("e.n").alias("n"))
                .filter(F.col("n") > 0))
    if impl == "arrow":
        import pandas as pd

        ps = list(phrases)
        id_t = docs.schema[id_col].dataType.simpleString()

        def gen(it):
            automaton = _build_automaton(ps)   # once per worker task
            for pdf in it:
                ids, out_p, out_n = [], [], []
                for i, txt in zip(pdf[id_col].values,
                                  pdf[text_col].values):
                    if txt is None:
                        continue
                    for j, c in enumerate(_ac_counts(txt, ps, automaton)):
                        if c > 0:
                            ids.append(i)
                            out_p.append(ps[j])
                            out_n.append(c)
                yield pd.DataFrame({id_col: pd.Series(ids, dtype="object"),
                                    "phrase": out_p,
                                    "n": pd.Series(out_n, dtype="int64")})

        return docs.select(id_col, text_col).mapInPandas(
            gen, f"{id_col} {id_t}, phrase string, n long")
    raise ValueError(f"unknown impl {impl!r}")
