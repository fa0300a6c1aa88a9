"""Locate block line spans inside plan/state JSON text.

Behavior port of ``findBlockLinesFromJSON`` / ``getSourceFromFile``
(/root/reference/terraform/utils.go:376-567), operating on an in-memory text
column instead of re-opening the file per row.

The reference rescans the whole file for every row. Here each text is
scanned once into a block index (``_Index``, cached for the most recent
text only, so a worker holds one file's index at a time), and every
``find_block_lines`` call is a lookup plus work proportional to its own
block's span, so a file costs O(lines + Σ block spans) rather than
O(blocks × lines). The index holds:

- the line of the first ``"resources": {``/``[`` and ``"outputs": {``/``[``
  header (stripped-line equality);
- for resources, the running bracket counter per line after the header
  (``+1`` per line containing ``{``, ``-1`` per line containing ``}``),
  and the lines containing ``{`` (the block start is the most recent of
  those at the trigger line);
- the trigger lines, keyed by (first value, peeked value): a line with
  ``"address": "X"`` whose peek finds ``"type": "Y"`` (plan), or with
  ``"type": "X"`` whose peek finds ``"name": "Y"`` (state);
- for outputs, the lines whose stripped text is ``"<name>": {`` and the
  running occurrence count of ``{`` minus ``}``;
- the line count, and, computed on first use, the unformatted-plan
  resource blobs.

Reference quirks kept byte-for-byte:

- the first header wins;
- triggers fire on any line after that header, including the plan's
  ``resource_changes`` and nested ``"type"`` keys inside attributes;
- both the address→type and the type→name trigger are tried for every
  2-tuple ``path_name``;
- triggers are substring tests on the stripped line;
- the peek scans forward from the line after the trigger and stops at the
  first raw line containing ``}`` (that line is still tested);
- the resources branch counts ``{``/``}`` presence per line, while the
  outputs branch counts occurrences;
- a later trigger before the close moves the start; the block ends at the
  first zero of the counter at or after the first trigger;
- a re-matched ``"<name>": {`` line resets an open output (counter back to
  one, start moved);
- ``variables`` has no named-key handling and always falls back
  (utils.go:406 checks ``blockName == "outputs"`` only);
- source text is the inclusive line range, each line suffixed with ``\\n``
  (getSourceFromFile appends a newline per line — unlike the HCL getBlock
  join, which has no trailing newline);
- single-line (unformatted) JSON fallback (utils.go:496-547): lines 1..N,
  and for plan files the last resource object whose sorted-key compact
  JSON (Go map-marshal order) contains both path values becomes the
  ``source``.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
from bisect import bisect_right
from collections import defaultdict
from typing import Any

from ..functions.jsonenc import canonical_json

_PLAN_RESOURCES_RE = re.compile(r'"planned_values":\{.*"root_module":\{"resources":(.*)\}\},"resource_changes"')
# a `"key": "value"` occurrence with its natural value, the text up to the
# next quote on the same line
_PAIR_RE = re.compile(r'"(address|type|name)": "([^"\n]*)"')
# (trigger key, peeked key): plan files pair address→type, state files type→name
_TRIGGERS = (("address", "type"), ("type", "name"))


def find_block_lines(text: str, block_name: str, *path_name: str) -> tuple[int, int, str]:
    """Return (start_line, end_line, source) for a block in JSON text.

    ``block_name`` is ``"resources"``, ``"outputs"``, or ``"variables"``;
    ``path_name`` is (address, type) for plan resources, (type, name) for
    state resources, or (name,) for outputs/variables.
    """
    idx = _index(text)
    span = None
    if block_name == "resources" and len(path_name) >= 2:
        span = idx.resource_span(path_name[0], path_name[1])
    elif block_name == "outputs" and path_name:
        span = idx.output_span(path_name[0])
    if span is None:
        return idx.fallback(path_name)
    start, end = span
    source = "\n".join(idx.lines[start - 1 : end]) + "\n" if start > 0 else ""
    return start, end, source


@functools.lru_cache(maxsize=1)
def _index(text: str) -> _Index:
    return _Index(text)


def _first_header(stripped: list[str], block_name: str) -> int:
    heads = (f'"{block_name}": {{', f'"{block_name}": [')
    return next((i for i, t in enumerate(stripped, 1) if t in heads), 0)


class _Index:
    """One scan of a text's lines; the resources and outputs parts and the
    plan blobs are each built on first use. Per-line lists are indexed by
    line number minus one."""

    def __init__(self, text: str) -> None:
        self.text = text
        self.lines = text.split("\n")
        self.stripped = [ln.strip() for ln in self.lines]

    @functools.cached_property
    def _resources(self) -> tuple[list[int], list[int], dict[tuple[str, str], list[int]]] | None:
        """(bracket counter per line, lines containing ``{``, trigger lines
        per (first value, peeked value)), or None without a header."""
        head = _first_header(self.stripped, "resources")
        if not head:
            return None
        body = self.lines[head:]
        counters = [0] * head + list(itertools.accumulate(("{" in ln) - ("}" in ln) for ln in body))
        opens = [n for n, ln in enumerate(body, head + 1) if "{" in ln]
        closes = [n for n, ln in enumerate(body, head + 1) if "}" in ln]

        starts = [0, *itertools.accumulate(len(ln) + 1 for ln in self.lines)]
        occ: dict[str, tuple[list[int], list[str]]] = {k: ([], []) for k in ("address", "type", "name")}
        # resume one character after each match so overlapping occurrences
        # (`"type": "type": "x"`) are found too
        m = _PAIR_RE.search(self.text, starts[head])
        while m:
            at, vals = occ[m.group(1)]
            at.append(bisect_right(starts, m.start()))
            vals.append(m.group(2))
            m = _PAIR_RE.search(self.text, m.start() + 1)

        found: dict[tuple[str, str], set[int]] = defaultdict(set)
        for first, peeked in _TRIGGERS:
            peek_at, peek_vals = occ[peeked]
            for n, value in zip(*occ[first]):
                # the peek window: the lines after n up to the first one
                # containing "}", inclusive
                c = bisect_right(closes, n)
                stop = closes[c] if c < len(closes) else len(self.lines)
                for j in range(bisect_right(peek_at, n), bisect_right(peek_at, stop)):
                    found[(value, peek_vals[j])].add(n)
        return counters, opens, {k: sorted(v) for k, v in found.items()}

    def _trigger_lines(self, first: str, peeked: str) -> list[int]:
        triggers = self._resources[2]
        cands = triggers.get((first.partition('"')[0], peeked.partition('"')[0]), [])
        if '"' not in first and '"' not in peeked:
            return cands
        # a quote inside a value: the natural-value key only narrows the
        # candidates, so re-test each with the reference's substring checks
        return [n for n in cands if any(
            f'"{k}": "{first}"' in self.lines[n - 1] and self._peek(n, f'"{p}": "{peeked}"')
            for k, p in _TRIGGERS
        )]

    def _peek(self, n: int, needle: str) -> bool:
        for raw in itertools.islice(self.lines, n, None):
            if needle in raw:
                return True
            if "}" in raw:
                return False
        return False

    def resource_span(self, first: str, peeked: str) -> tuple[int, int] | None:
        if self._resources is None:
            return None
        counters, opens, _ = self._resources
        hits = self._trigger_lines(first, peeked)
        if not hits:
            return None
        try:
            end = counters.index(0, hits[0] - 1) + 1
        except ValueError:
            return None
        last_hit = hits[bisect_right(hits, end) - 1]
        o = bisect_right(opens, last_hit)
        return (opens[o - 1] if o else 0), end

    @functools.cached_property
    def _outputs(self) -> tuple[dict[str, list[int]], list[int]] | None:
        """(``"<name>": {`` lines, running ``{`` minus ``}`` occurrence count
        per line), or None without a header."""
        head = _first_header(self.stripped, "outputs")
        if not head:
            return None
        levels = [0] * head + list(itertools.accumulate(ln.count("{") - ln.count("}") for ln in self.lines[head:]))
        keys: dict[str, list[int]] = defaultdict(list)
        for n, t in enumerate(self.stripped[head:], head + 1):
            if t.endswith("{"):
                keys[t].append(n)
        return keys, levels

    def output_span(self, name: str) -> tuple[int, int] | None:
        if self._outputs is None:
            return None
        keys, levels = self._outputs
        opens = keys.get(f'"{name}": {{', [])
        for i, n in enumerate(opens):
            nxt = opens[i + 1] if i + 1 < len(opens) else len(self.lines) + 1
            # the counter is one after line n, so the block closes on the
            # first line before the next reset whose count is one below n's
            try:
                return n, levels.index(levels[n - 1] - 1, n, nxt - 1) + 1
            except ValueError:
                continue
        return None

    @functools.cached_property
    def _plan_blobs(self) -> list[str]:
        m = _PLAN_RESOURCES_RE.search(self.text)
        if not m:
            return []
        try:
            resources: Any = json.loads(m.group(1))
        except (ValueError, TypeError):
            return []
        return [canonical_json(r) for r in resources if isinstance(r, dict)]

    def fallback(self, path_name: tuple[str, ...]) -> tuple[int, int, str]:
        """Unformatted single-line JSON (utils.go:496-547): lines 1..N, and
        for plan files the last matching resource object as source."""
        source = ""
        if len(path_name) >= 2:
            source = next((b for b in reversed(self._plan_blobs) if path_name[0] in b and path_name[1] in b), "")
        return 1, len(self.lines), source
