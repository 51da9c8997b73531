"""Deterministic mention/triple extraction spec (the heart of Stage 2).

Analog of the reference's per-document AST extraction
(src/modules/ast-parser.ts:145-298 — parse a document, emit typed entity
nodes + CALLS edges), re-targeted at transcript turns: a turn's ``text``
is scanned for

  R1 gazetteer mentions    — vocab surfaces, case-insensitive whole word
  R2 @-mentions            — ``@name`` actors
  R3 tool-call mentions    — ``call:<tool>`` in text
  R4 DEPENDS_ON relations  — "<surface> depends on <surface>" SVO rule

Rules are pure functions of (text); ids are pure functions of
(conv_id, turn_idx, span) — deterministic business keys per the
reference's enhanced schema (src/types/enhanced-graph.ts:211-251);
never UUID/now() (the reference's nondeterministic fallbacks at
ast-parser.ts:137 / NodeCreator.ts:8 are bugs we do not inherit).

Execution shape: ``extract_mentions_batch`` is applied via
``mapInPandas`` — Arrow-batched, no per-row Python at the Spark
boundary. The regexes are compiled once per python worker.
Everything downstream of mention detection (triple assembly) is pure
JVM-side DataFrame code — see stages/extract.py.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from . import vocab

def build_gazetteer_pattern(surfaces: list[str], capture: bool = True) -> str:
    """Longest-first, whole-word alternation over arbitrary surfaces."""
    ordered = sorted(set(surfaces), key=lambda x: (-len(x), x))
    alts = "|".join(re.escape(s) for s in ordered)
    group = "(" if capture else "(?:"
    return r"(?<![A-Za-z0-9_])" + group + alts + r")(?![A-Za-z0-9_])"


# ---- compiled patterns (module-level: compiled once per python worker) ----
_GAZ_RE = re.compile(vocab.gazetteer_pattern(), re.IGNORECASE)
_AT_RE = re.compile(vocab.AT_MENTION_PATTERN)
_TOOL_RE = re.compile(vocab.TOOL_CALL_PATTERN)
_DEP_RE = re.compile(
    vocab.DEPENDS_ON_TEMPLATE.format(g=vocab.gazetteer_pattern(capture=False)),
    re.IGNORECASE,
)

# Output schema of the extraction UDF (DDL form for mapInPandas).
# first_in_turn marks the first occurrence (in scan order) of a
# surface within its dedup group in one turn — this makes every
# downstream triple branch UNIQUE BY CONSTRUCTION, so triple assembly
# and edge materialization are shuffle-free projections (no global
# dedup aggregation; min(string) aggs would force SortAggregate over
# the full triple set at scale).
EXTRACTION_SCHEMA = (
    "conv_id string, turn_idx int, start int, end int, "
    "surface string, surface_norm string, kind string, obj_norm string, "
    "first_in_turn boolean"
)

KIND_GAZETTEER = "gazetteer"
KIND_AT = "at"
KIND_TOOLCALL = "toolcall"
KIND_DEPENDS = "depends_on"


def _scan_text(
    text: str, gaz_re: re.Pattern | None = None
) -> list[tuple[int, int, str, str, str, str | None]]:
    """All extraction-rule matches in one turn's text.

    Returns (start, end, surface, surface_norm, kind, obj_norm) tuples.
    DEPENDS_ON rows carry the object surface in obj_norm; the subject
    span is the subject surface's span.
    """
    out: list[tuple[int, int, str, str, str, str | None]] = []
    if not text:
        return out
    for m in (gaz_re or _GAZ_RE).finditer(text):
        s = m.group(1)
        out.append((m.start(1), m.end(1), s, s.lower(), KIND_GAZETTEER, None))
    for m in _AT_RE.finditer(text):
        s = m.group(1)
        out.append((m.start(1), m.end(1), s, s.lower(), KIND_AT, None))
    for m in _TOOL_RE.finditer(text):
        s = m.group(1)
        out.append((m.start(1), m.end(1), s, s.lower(), KIND_TOOLCALL, None))
    for m in _DEP_RE.finditer(text):
        subj, obj = m.group(1), m.group(2)
        out.append(
            (m.start(1), m.end(1), subj, subj.lower(), KIND_DEPENDS, obj.lower())
        )
    return out


_EXTRACTION_COLS = [
    "conv_id",
    "turn_idx",
    "start",
    "end",
    "surface",
    "surface_norm",
    "kind",
    "obj_norm",
    "first_in_turn",
]


def _postprocess_turn(
    matches: list[tuple[int, int, str, str, str, str | None]],
) -> list[tuple[int, int, str, str, str, str | None, bool]]:
    """Per-turn dedup rules (the uniqueness-by-construction contract):

    1. drop @-mentions whose exact (start, end) span is also a
       gazetteer match (e.g. ``@spark``) — the gazetteer reading wins,
       so mention node ids (conv#turn#start) are unique;
    2. flag the first occurrence of each surface within its dedup
       group: entity kinds (gazetteer+at pooled) by surface_norm,
       toolcalls by surface_norm, depends_on by (surface, obj).
    """
    gaz_spans = {(m[0], m[1]) for m in matches if m[4] == KIND_GAZETTEER}
    seen: set[tuple] = set()
    out = []
    for start, end, surface, norm, kind, obj in matches:
        if kind == KIND_AT and (start, end) in gaz_spans:
            continue
        if kind in (KIND_GAZETTEER, KIND_AT):
            key = ("ent", norm)
        elif kind == KIND_TOOLCALL:
            key = ("tool", norm)
        else:
            key = ("dep", norm, obj)
        first = key not in seen
        seen.add(key)
        out.append((start, end, surface, norm, kind, obj, first))
    return out


def make_extractor(surfaces: list[str] | None = None):
    """Build a mapInPandas body bound to a gazetteer (default: vocab's).

    The compiled regex lives in the closure — compiled once per python
    worker, reused across Arrow batches.
    """
    gaz_re = (
        re.compile(build_gazetteer_pattern(surfaces), re.IGNORECASE)
        if surfaces is not None
        else None
    )

    def body(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"].to_numpy(),
                pdf["turn_idx"].to_numpy(),
                pdf["text"].to_numpy(),
            ):
                for start, end, surface, norm, kind, obj, first in _postprocess_turn(
                    _scan_text(text, gaz_re)
                ):
                    rows.append(
                        (
                            conv_id,
                            int(turn_idx),
                            start,
                            end,
                            surface,
                            norm,
                            kind,
                            obj,
                            first,
                        )
                    )
            yield pd.DataFrame(rows, columns=_EXTRACTION_COLS)

    return body


def extract_mentions_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body with the default vocab gazetteer."""
    yield from make_extractor()(batches)
