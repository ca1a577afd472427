"""Multi-pattern text scanning (Aho-Corasick) for blocklist-scale
filtering.

The 100 TB problem: a content blocklist has 10⁴-10⁶ patterns and the
corpus has 10⁹ documents. Scanning per-pattern (``#patterns`` passes
over the corpus, what naive `LIKE` stacks or per-pattern regexes do)
is O(patterns × corpus) and dead on arrival; token-join matching only
handles whole-token patterns. Aho-Corasick builds one automaton over
ALL patterns (size ∝ total pattern length), broadcasts it once per
executor inside the per-row ``map_rows`` closure, and scans each
document in a single pass — O(corpus + matches), independent of
pattern count.

Match semantics: ALL occurrences are reported, including overlapping
occurrences of different patterns and patterns nested inside longer
ones (via the automaton's output links — "scan" inside "scan slow").
A single pattern CAN also self-overlap in general; the oracle-checked
query below plants borderless patterns (no proper prefix that is also
a suffix), for which self-overlap is impossible, so the SQL
``replace``-count (non-overlapping) is provably equal to the
all-match count.

No reference parity: the reference app (ecommerce_streaming.py) has
no text-scan surface; this is LLM-pipeline scope (SURVEY.md §2
extensions — corpus hygiene/blocklist filtering).
"""

from __future__ import annotations

from collections import deque
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .multimodal import map_rows


def build_aho_corasick(patterns: Sequence[str]):
    """Build the goto/fail/output automaton. Returns (goto, fail,
    out): ``goto`` a list of dicts char -> state, ``fail`` the failure
    links, ``out`` per-state lists of pattern ids whose match ends
    there (output links pre-flattened, so nested patterns report at
    every ending state)."""
    if not patterns or any(not p for p in patterns):
        raise ValueError("patterns must be non-empty strings")
    goto: list[dict] = [{}]
    fail = [0]
    out: list[list[int]] = [[]]
    for pid, pat in enumerate(patterns):
        s = 0
        for ch in pat:
            nxt = goto[s].get(ch)
            if nxt is None:
                goto.append({})
                fail.append(0)
                out.append([])
                nxt = len(goto) - 1
                goto[s][ch] = nxt
            s = nxt
        out[s].append(pid)
    q: deque = deque()
    for s in goto[0].values():
        fail[s] = 0
        q.append(s)
    while q:
        r = q.popleft()
        for ch, s in goto[r].items():
            q.append(s)
            f = fail[r]
            while f and ch not in goto[f]:
                f = fail[f]
            fs = goto[f].get(ch, 0)
            fail[s] = fs if fs != s else 0
            out[s] = out[s] + out[fail[s]]
    return goto, fail, out


def scan_counts(text: str, goto, fail, out, n_patterns: int) -> list:
    """Single pass over ``text``; returns per-pattern ALL-match
    occurrence counts (overlaps and nested patterns included)."""
    counts = [0] * n_patterns
    s = 0
    for ch in text:
        while s and ch not in goto[s]:
            s = fail[s]
        s = goto[s].get(ch, 0)
        for pid in out[s]:
            counts[pid] += 1
    return counts


MULTIPATTERN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("pattern", T.StringType(), True),
        T.StructField("n_matches", T.LongType(), True),
    ]
)


def multipattern_scan(documents: DataFrame, patterns: Sequence[str]) -> DataFrame:
    """Scan every document once against ALL patterns; one output row
    per (doc, pattern) — zero-match pairs included, so downstream
    aggregation sees the full grid without a re-join. The automaton is
    built once here (driver) and ships inside the closure (broadcast
    semantics: ∝ total pattern bytes, NOT corpus size)."""
    patterns = list(patterns)
    goto, fail, out = build_aho_corasick(patterns)
    n = len(patterns)

    def scan(doc_id, source, text):
        counts = scan_counts(text or "", goto, fail, out, n)
        for pid, c in enumerate(counts):
            yield int(doc_id), source, patterns[pid], c

    return map_rows(
        documents.select("doc_id", "source", "text"), scan, MULTIPATTERN_SCHEMA
    )
