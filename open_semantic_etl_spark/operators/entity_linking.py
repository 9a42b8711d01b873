"""Dictionary-gazetteer NER: broadcast Aho-Corasick scan in a pandas UDF.

The from-scratch replacement for the reference's Solr-Text-Tagger /
OpenRefine round-trip (enhance_entity_linking.py:50-216): the gazetteer
(label → entity) is broadcast to executors, compiled once per worker
into an Aho-Corasick automaton (classic Aho-Corasick 1975 — trie +
failure links, O(text) multi-pattern scan), and each Arrow batch of
documents is tagged in-process.

Output is ONE typed column ``array<struct<facet,name,uri,matchtexts,
taxonomy>>`` replacing the reference's five string-packed facet fields
per match (name, _uri_ss, '_preflabel_and_uri_ss' "name <uri>",
'_matchtext_ss' "uri\\tmatchtext", _taxonomy<i>_ss —
enhance_entity_linking.py:184-214). Helpers below derive those legacy
projections from the struct with pure Column expressions.

Scale: the gazetteer is a broadcast variable (one copy per executor,
not per task); the scan stage is map-side only — no shuffle.
"""

from __future__ import annotations

from collections import deque
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from open_semantic_etl_spark.schema import ENTITY_TYPE


@dataclass(frozen=True)
class GazetteerEntry:
    """One dictionary entity: preferred label, uri, type facet, aliases."""

    uri: str
    preflabel: str
    facet: str  # e.g. 'law_code_ss', 'person_ss', 'location_ss'
    labels: tuple[str, ...]  # match texts incl. preflabel + aliases
    taxonomy: tuple[str, ...] = ()  # '\t'-joined paths, reference format


class AhoCorasick:
    """Multi-pattern matcher with word-boundary post-filtering.

    Matches are token-bounded (a hit must not be flanked by word chars),
    mirroring Solr Text Tagger's token-aligned matching.
    """

    def __init__(self, patterns: list[str], case_insensitive: bool = False) -> None:
        self.case_insensitive = case_insensitive
        # goto[state] : dict char → state; out[state]: list of pattern idx
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[int]] = [[]]
        self.fail: list[int] = [0]
        self.patterns = patterns
        for idx, pat in enumerate(patterns):
            key = pat.lower() if case_insensitive else pat
            state = 0
            for ch in key:
                nxt = self.goto[state].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[state][ch] = nxt
                state = nxt
            self.out[state].append(idx)
        # BFS failure links
        q: deque[int] = deque()
        for s in self.goto[0].values():
            q.append(s)
        while q:
            r = q.popleft()
            for ch, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(ch, 0)
                if self.fail[s] == s:
                    self.fail[s] = 0
                self.out[s].extend(self.out[self.fail[s]])

    @staticmethod
    def _is_word(ch: str) -> bool:
        return ch.isalnum() or ch == "_"

    def scan(self, text: str) -> list[tuple[int, int, int]]:
        """yields (pattern_idx, start, end) for word-bounded matches."""
        hay = text.lower() if self.case_insensitive else text
        state = 0
        hits: list[tuple[int, int, int]] = []
        n = len(hay)
        for i, ch in enumerate(hay):
            while state and ch not in self.goto[state]:
                state = self.fail[state]
            state = self.goto[state].get(ch, 0)
            if self.out[state]:
                for idx in self.out[state]:
                    plen = len(self.patterns[idx])
                    start = i - plen + 1
                    before_ok = start == 0 or not self._is_word(hay[start - 1])
                    after_ok = i + 1 >= n or not self._is_word(hay[i + 1])
                    if before_ok and after_ok:
                        hits.append((idx, start, i + 1))
        return hits


# above this pattern count the compiled-alternation regex outgrows the
# regex engine's sweet spot; fall back to the Aho-Corasick automaton
REGEX_ENGINE_MAX_PATTERNS = 4096


@dataclass
class Gazetteer:
    entries: list[GazetteerEntry]
    case_insensitive: bool = False
    _automaton: AhoCorasick | None = field(default=None, repr=False, compare=False)
    _pattern_owner: list[int] = field(default_factory=list, repr=False, compare=False)
    _regex = None
    _regex_owner: dict[str, int] | None = field(default=None, repr=False, compare=False)

    def _patterns(self) -> tuple[list[str], list[int]]:
        patterns: list[str] = []
        owner: list[int] = []
        for ei, e in enumerate(self.entries):
            for lbl in e.labels:
                patterns.append(lbl)
                owner.append(ei)
        return patterns, owner

    def automaton(self) -> AhoCorasick:
        """Compile lazily — once per executor after broadcast pickling."""
        if self._automaton is None:
            patterns, owner = self._patterns()
            self._automaton = AhoCorasick(patterns, self.case_insensitive)
            self._pattern_owner = owner
        return self._automaton

    def _compiled_regex(self):
        """C-speed alternation matcher (small/medium dictionaries).

        Longest-first alternation + \\w lookarounds reproduces the
        word-bounded, longest-match-per-position behavior of Solr Text
        Tagger's default overlap handling; stepping the search position
        by match.start()+1 also recovers nested matches at later starts
        (e.g. 'Obama' inside 'Barack Obama').
        """
        import re

        if self._regex is None:
            patterns, owner = self._patterns()
            order = sorted(range(len(patterns)), key=lambda i: -len(patterns[i]))
            alt = "|".join(re.escape(patterns[i]) for i in order)
            flags = re.IGNORECASE if self.case_insensitive else 0
            self._regex = re.compile(rf"(?<!\w)(?:{alt})(?!\w)", flags)
            key = (lambda s: s.lower()) if self.case_insensitive else (lambda s: s)
            self._regex_owner = {}
            for i, p in enumerate(patterns):
                self._regex_owner.setdefault(key(p), (i, owner[i], p))
        return self._regex

    def scan(self, text: str):
        """yields (pattern_idx, entity_idx, matchtext) for word-bounded hits."""
        patterns, owner = self._patterns()
        if len(patterns) > REGEX_ENGINE_MAX_PATTERNS:
            ac = self.automaton()
            for idx, s, e in ac.scan(text):
                yield idx, self._pattern_owner[idx], ac.patterns[idx]
            return
        rx = self._compiled_regex()
        key = (lambda s: s.lower()) if self.case_insensitive else (lambda s: s)
        pos = 0
        while True:
            m = rx.search(text, pos)
            if not m:
                return
            hit = self._regex_owner.get(key(m.group(0)))
            if hit is not None:
                idx, ei, canonical = hit
                yield idx, ei, canonical
            pos = m.start() + 1  # recover nested matches at later starts

    def tag(self, text: str | None) -> list[dict]:
        """text → entity structs (grouped per entity, matchtexts deduped)."""
        if not text:
            return []
        per_entity: dict[int, list[str]] = {}
        order: list[int] = []
        for _idx, ei, mt in self.scan(text):
            if ei not in per_entity:
                per_entity[ei] = []
                order.append(ei)
            if mt not in per_entity[ei]:
                per_entity[ei].append(mt)
        out = []
        for ei in order:
            ent = self.entries[ei]
            out.append(
                {
                    "facet": ent.facet,
                    "name": ent.preflabel,
                    "uri": ent.uri,
                    "matchtexts": per_entity[ei],
                    "taxonomy": list(ent.taxonomy),
                }
            )
        return out


def with_entities(
    df: DataFrame,
    gazetteer: Gazetteer,
    text_col: str = "text_analysis",
    out: str = "entities",
    spark: SparkSession | None = None,
) -> DataFrame:
    """Append the typed entity column via a broadcast gazetteer scan."""
    spark = spark or df.sparkSession
    bc = spark.sparkContext.broadcast(gazetteer)

    def _tag_batch(texts: pd.Series) -> pd.Series:
        gz = bc.value
        return texts.map(gz.tag)

    udf = F.pandas_udf(_tag_batch, returnType=ENTITY_TYPE)
    return df.withColumn(out, udf(F.col(text_col)))


# ---------------------------------------------------------------------------
# Legacy-facet projections (pure Column exprs over the entity struct) —
# the reference's per-facet fields, enhance_entity_linking.py:200-206.
# ---------------------------------------------------------------------------


def _facet_entities(entities: Column, facet: str) -> Column:
    return F.filter(entities, lambda e: e["facet"] == facet)


def facet_names(entities: Column, facet: str) -> Column:
    """<facet>_ss values (entity preferred labels)."""
    return F.array_distinct(
        F.transform(_facet_entities(entities, facet), lambda e: e["name"])
    )


def facet_uris(entities: Column, facet: str) -> Column:
    return F.array_distinct(
        F.transform(_facet_entities(entities, facet), lambda e: e["uri"])
    )


def facet_preflabel_and_uri(entities: Column, facet: str) -> Column:
    """'name <uri>' packed form (etl_plugin_core.py:196-211)."""
    return F.array_distinct(
        F.transform(
            _facet_entities(entities, facet),
            lambda e: F.concat(e["name"], F.lit(" <"), e["uri"], F.lit(">")),
        )
    )


def facet_matchtexts(entities: Column, facet: str) -> Column:
    """'uri\\tmatchtext' packed form (etl_plugin_core.py:214-234)."""
    return F.array_distinct(
        F.flatten(
            F.transform(
                _facet_entities(entities, facet),
                lambda e: F.transform(
                    e["matchtexts"], lambda mt: F.concat(e["uri"], F.lit("\t"), mt)
                ),
            )
        )
    )


def facet_taxonomy_level(entities: Column, facet: str, level: int) -> Column:
    """<facet>_taxonomy<i>_ss: cumulative '\\t'-joined path prefixes
    (taxonomy2fields, enhance_entity_linking.py:17-45)."""
    return F.array_distinct(
        F.flatten(
            F.transform(
                _facet_entities(entities, facet),
                lambda e: F.transform(
                    F.filter(e["taxonomy"], lambda t: F.size(F.split(t, "\t")) > level),
                    lambda t: F.array_join(F.slice(F.split(t, "\t"), 1, level + 1), "\t"),
                ),
            )
        )
    )
