"""Differential tests for the indexed plan/state block locator.

``_line_scan`` below is the previous per-call implementation of
``find_block_lines`` (a full line scan of the text for every row), kept
here as a test-only oracle. Every call ``rows.py`` makes on every fixture
plan/state file, and every call over a vocabulary of values on generated
adversarial texts, must return the same ``(start_line, end_line, source)``
from the index as from the oracle.
"""

from __future__ import annotations

import json
import pathlib
import random
import re
from typing import Any

import pytest

from steampipe_plugin_terraform_spark.functions.jsonenc import canonical_json
from steampipe_plugin_terraform_spark.tfcore import jsonpos
from steampipe_plugin_terraform_spark.tfcore import rows as rows_mod
from steampipe_plugin_terraform_spark.tfcore.jsonpos import find_block_lines

FIXTURES = pathlib.Path(__file__).parent / "fixtures"

_PLAN_RESOURCES_RE = re.compile(r'"planned_values":\{.*"root_module":\{"resources":(.*)\}\},"resource_changes"')


def _line_scan(text: str, block_name: str, *path_name: str) -> tuple[int, int, str]:
    """Test oracle: the line-scan locator, verbatim from before the index."""
    lines = text.split("\n")
    current_line = 0
    start_line = end_line = 0
    bracket_counter = start_counter = 0
    in_block = in_output = in_target = False

    def peek_contains(from_line: int, needle: str) -> bool:
        k = from_line
        while k < len(lines):
            peek = lines[k]
            if needle in peek:
                return True
            if "}" in peek:
                return False
            k += 1
        return False

    for raw in lines:
        current_line += 1
        trimmed = raw.strip()

        if not in_block and (trimmed == f'"{block_name}": {{' or trimmed == f'"{block_name}": ['):
            in_block = True
            start_line = current_line
            continue
        elif in_block and block_name == "outputs" and path_name and trimmed == f'"{path_name[0]}": {{':
            in_output = True
            bracket_counter = 1
            start_line = current_line
            continue
        elif in_block and block_name == "resources":
            if "{" in trimmed:
                bracket_counter += 1
                start_counter = current_line
            if "}" in trimmed:
                bracket_counter -= 1

            if len(path_name) >= 2 and f'"address": "{path_name[0]}"' in trimmed:
                if peek_contains(current_line, f'"type": "{path_name[1]}"'):
                    in_target = True
                    start_line = start_counter

            if len(path_name) >= 2 and f'"type": "{path_name[0]}"' in trimmed:
                if peek_contains(current_line, f'"name": "{path_name[1]}"'):
                    in_target = True
                    start_line = start_counter

        if in_block and in_output and not in_target:
            bracket_counter += raw.count("{")
            bracket_counter -= raw.count("}")
            if bracket_counter == 0:
                end_line = current_line
                break

        if in_block and in_target and bracket_counter == 0:
            end_line = current_line
            break

    if start_line <= 0 or end_line < start_line:
        source = ""
    else:
        source = "".join(ln + "\n" for ln in lines[start_line - 1 : end_line])

    if start_line != 0 and end_line == 0:
        start_line = 0

    if start_line == 0 and end_line == 0:
        start_line = 1
        end_line = current_line if current_line else 1
        m = _PLAN_RESOURCES_RE.search(text)
        if m and len(path_name) >= 2:
            try:
                resources: list[Any] = json.loads(m.group(1))
            except (ValueError, TypeError):
                return start_line, end_line, source
            for r in resources:
                blob = canonical_json(r)
                if path_name[0] in blob and path_name[1] in blob and isinstance(r, dict):
                    source = blob
    return start_line, end_line, source


def _rows_calls(monkeypatch, path: str, kind: str, text: str) -> list[tuple]:
    """Every find_block_lines argument tuple rows.py passes for one file."""
    calls: list[tuple] = []
    real = rows_mod.find_block_lines

    def recording(*args):
        calls.append(args)
        return real(*args)

    with monkeypatch.context() as m:
        m.setattr(rows_mod, "find_block_lines", recording)
        rows_mod.build_rows_for_file(path, kind, text)
    return calls


def _assert_same(calls) -> None:
    for args in calls:
        assert find_block_lines(*args) == _line_scan(*args), args[1:]


# -- every call rows.py makes on the committed fixtures ----------------------

_FIXTURE_FILES = sorted(
    p for p in FIXTURES.rglob("*") if p.suffix in (".tfstate", ".json") and p.is_file()
)


@pytest.mark.parametrize("path", _FIXTURE_FILES, ids=lambda p: str(p.relative_to(FIXTURES)))
def test_fixture_calls_match_line_scan(monkeypatch, path):
    text = path.read_text()
    kinds = ["state"] if path.suffix == ".tfstate" else ["plan", "config"]
    for kind in kinds:
        calls = _rows_calls(monkeypatch, str(path), kind, text)
        _assert_same(calls)


def test_fixtures_exercise_every_branch(monkeypatch):
    # the fixture sweep above is only meaningful if it reaches resources
    # (plan and state) and outputs; no fixture state carries variables, so
    # the generated texts below cover that branch
    seen = set()
    for path in _FIXTURE_FILES:
        kind = "state" if path.suffix == ".tfstate" else "plan"
        for args in _rows_calls(monkeypatch, str(path), kind, path.read_text()):
            seen.add((kind, args[1]))
    assert {("plan", "resources"), ("state", "resources"), ("state", "outputs")} <= seen


# -- generated adversarial texts ---------------------------------------------

_STR_RE = re.compile(r'"((?:[^"\\\n]|\\.)*)"')


def _vocabulary(text: str) -> list[str]:
    """Every string literal in the text, raw and decoded, plus values that
    only match through the substring semantics."""
    vocab = {"", "nope", 'x", "name": "y', "n1", "t1"}
    for raw in _STR_RE.findall(text):
        vocab.add(raw)
        try:
            vocab.add(json.loads(f'"{raw}"'))
        except ValueError:
            pass
    return sorted(vocab)


def _vocab_calls(text: str) -> list[tuple]:
    vocab = _vocabulary(text)
    calls: list[tuple] = []
    for a in vocab:
        calls += [(text, "outputs", a), (text, "variables", a), (text, "resources", a)]
        calls += [(text, "resources", a, b) for b in vocab]
    calls += [(text, "outputs"), (text, "resources"), (text, "outputs", "a", "b")]
    return calls


def _pretty_state(resources, outputs=None, variables=None) -> str:
    doc: dict[str, Any] = {"version": 4}
    if outputs is not None:
        doc["outputs"] = outputs
    doc["resources"] = resources
    if variables is not None:
        doc["variables"] = variables
    return json.dumps(doc, indent=2)


def _res(rtype, name, module=None, attrs=None, n_inst=1):
    r: dict[str, Any] = {"mode": "managed", "type": rtype, "name": name, "provider": "p"}
    if module:
        r = {"module": module, **r}
    r["instances"] = [{"schema_version": 0, "attributes": attrs or {"id": f"{name}-{i}"}} for i in range(n_inst)]
    return r


_DUP_PAIRS = _pretty_state(
    [_res("t1", "this", "module.a"), _res("t1", "this", "module.b"), _res("t1", "n1", n_inst=2)]
)
_SAME_NAME_TWO_TYPES = _pretty_state([_res("t1", "n1"), _res("t2", "n1"), _res("t2", "n2")])
_BRACES_ON_KEY_LINES = """{
  "resources": [
    { "mode": "managed", "type": "t1", "name": "n1",
      "instances": [ { "attributes": { "id": "1" } } ] },
    {
      "type": "t2", "name": "n2" },
    {
      "type": "t3", "attrs": {
      }, "name": "n3"
    },
    {
      "type": "t4",
      "tags": { "name": "n4" },
      "name": "n4"
    }
  ],
  "outputs": {
    "o1": { "value": { "a": { "b": 1 } } }, "o2": {
      "value": 2 }
  }
}"""
_UNCLOSED = _pretty_state([_res("t1", "n1"), _res("t2", "n2"), _res("t3", "n3")])[:-60]
_OUTPUT_NAMED_LIKE_NESTED_KEY = _pretty_state(
    [_res("t1", "n1", attrs={"id": "x", "value": {"k": 1}, "tags": {"a": "b"}})],
    outputs={
        "a": {"value": {"value": {"x": 1}, "tags": {"y": 2}}, "type": "object"},
        "value": {"value": {"z": 3}},
        "tags": {"value": {"tags": {"q": 1}}},
        "id": {"value": "s"},
    },
    variables={"v": {"value": 1}},
)
_OUTPUTS_AFTER_RESOURCES = json.dumps(
    {
        "resources": [_res("t1", "n1", attrs={"id": "x", "o1": {"k": 1}})],
        "outputs": {"o1": {"value": 1}, "id": {"value": {"id": {"id": 2}}}},
    },
    indent=2,
)
_EMPTY_RESOURCES_INLINE = _pretty_state([], outputs={"o": {"value": 1}})
_EMPTY_RESOURCES_OPEN = '{\n  "resources": [\n  ],\n  "outputs": {\n    "o": {\n      "value": 1\n    }\n  }\n}\n'
_QUOTES_AND_BACKSLASHES = _pretty_state(
    [_res('t"1', "n\\1"), _res("t2", 'n"2'), _res("t\\3", "n3"), _res("x", "y")],
    outputs={'o"1': {"value": 1}, "o\\2": {"value": 2}},
    variables={'v"1': {"value": 1}},
) + '\n{"resources": [\n{"type": "x", "name": "y"},\n"type": "x\\", "name": "y"\n]}\n'
_NESTED_TYPE_KEYS = _pretty_state(
    [
        _res(
            "aws_security_group",
            "sg",
            attrs={"ingress": [{"type": "ingress", "name": "sg"}], "type": "aws_security_group"},
        ),
        _res("ingress", "sg"),
        _res("t1", "n1", attrs={"nested": {"type": "t1", "name": "n1"}}),
    ]
)
_TWO_HEADERS = json.dumps(
    {
        "outputs": {"o": {"value": 1}},
        "child": {"resources": [_res("t1", "n1")], "outputs": {"o": {"value": 2}}},
        "resources": [_res("t1", "n1")],
    },
    indent=2,
)
_OVERLAPPING_KEYS = """{
  "resources": [
    {
      "type": "type": "t1",
      "name": "n1"
    },
    {
      "address": "x"address": "t2.a",
      "type": "t2"
    }
  ]
}"""
_TRIGGER_BEFORE_OPEN = '{\n"resources": [\n"type": "t1",\n"name": "n1",\n],\n"x": 1\n}'
_PRETTY_PLAN = json.dumps(
    {
        "format_version": "1.1",
        "planned_values": {
            "outputs": {"o": {"sensitive": False, "value": "v"}},
            "root_module": {
                "resources": [
                    {"address": "t1.a", "mode": "managed", "type": "t1", "name": "a", "values": {"type": "t2"}},
                    {"address": "t1.ab", "mode": "managed", "type": "t1", "name": "ab", "values": {}},
                    {"address": "t2.a", "mode": "managed", "type": "t2", "name": "a", "values": None},
                ]
            },
        },
        "resource_changes": [
            {"address": "t1.a", "type": "t1", "name": "a", "change": {"actions": ["create"]}},
            {"address": "t2.a", "type": "t2", "name": "a", "change": {"actions": ["create"]}},
        ],
    },
    indent=2,
)

_ADVERSARIAL = {
    "duplicate_type_name": _DUP_PAIRS,
    "same_name_two_types": _SAME_NAME_TWO_TYPES,
    "braces_on_key_lines": _BRACES_ON_KEY_LINES,
    "unclosed_resources": _UNCLOSED,
    "output_named_like_nested_key": _OUTPUT_NAMED_LIKE_NESTED_KEY,
    "outputs_after_resources": _OUTPUTS_AFTER_RESOURCES,
    "crlf": _OUTPUT_NAMED_LIKE_NESTED_KEY.replace("\n", "\r\n"),
    "crlf_plan": _PRETTY_PLAN.replace("\n", "\r\n"),
    "empty_resources_inline": _EMPTY_RESOURCES_INLINE,
    "empty_resources_open": _EMPTY_RESOURCES_OPEN,
    "quotes_and_backslashes": _QUOTES_AND_BACKSLASHES,
    "nested_type_keys": _NESTED_TYPE_KEYS,
    "two_headers": _TWO_HEADERS,
    "trigger_before_open": _TRIGGER_BEFORE_OPEN,
    "overlapping_keys": _OVERLAPPING_KEYS,
    "pretty_plan": _PRETTY_PLAN,
    "empty_text": "",
    "no_header": '{"version": 4}',
}


@pytest.mark.parametrize("name", sorted(_ADVERSARIAL))
def test_adversarial_texts_match_line_scan(name):
    _assert_same(_vocab_calls(_ADVERSARIAL[name]))


def test_adversarial_texts_reach_the_quirks():
    # guard against the generated texts silently losing what they test
    # both module copies of a (type, name) pair map to the first block
    source = find_block_lines(_DUP_PAIRS, "resources", "t1", "this")[2]
    assert '"module.a"' in source and '"module.b"' not in source
    start, end, _ = find_block_lines(_OUTPUT_NAMED_LIKE_NESTED_KEY, "outputs", "value")
    assert (start, end) != (1, len(_OUTPUT_NAMED_LIKE_NESTED_KEY.split("\n")))
    assert find_block_lines(_UNCLOSED, "resources", "t3", "n3")[:2] == (1, len(_UNCLOSED.split("\n")))
    assert find_block_lines(_QUOTES_AND_BACKSLASHES, "resources", 'x", "name": "y', "n1") == _line_scan(
        _QUOTES_AND_BACKSLASHES, "resources", 'x", "name": "y', "n1"
    )
    assert find_block_lines(_TRIGGER_BEFORE_OPEN, "resources", "t1", "n1")[0] == 0
    # a needle that starts inside another key's match still triggers
    assert find_block_lines(_OVERLAPPING_KEYS, "resources", "t1", "n1")[:2] == (3, 6)
    assert find_block_lines(_OVERLAPPING_KEYS, "resources", "t2.a", "t2")[:2] == (7, 10)
    # a second trigger inside the block moves the start to its own object
    start, end, source = find_block_lines(_NESTED_TYPE_KEYS, "resources", "t1", "n1")
    assert source.lstrip().startswith('"nested": {') and end > start


def _random_value(rng: random.Random, vocab: list[str], depth: int) -> Any:
    roll = rng.random()
    if depth <= 0 or roll < 0.35:
        return rng.choice(vocab + [1, None, True])
    if roll < 0.7:
        return {rng.choice(vocab): _random_value(rng, vocab, depth - 1) for _ in range(rng.randint(0, 4))}
    return [_random_value(rng, vocab, depth - 1) for _ in range(rng.randint(0, 3))]


@pytest.mark.parametrize("seed", range(40))
def test_random_documents_match_line_scan(seed):
    rng = random.Random(seed)
    vocab = ["type", "name", "address", "resources", "outputs", "variables", "value", "t1", "n1", "t1.n1", 'q"', "b\\"]
    doc = {rng.choice(vocab): _random_value(rng, vocab, 5) for _ in range(rng.randint(2, 6))}
    text = json.dumps(doc, indent=rng.choice([1, 2, None]))
    if rng.random() < 0.3:
        text = text.replace("\n", "\r\n")
    calls = [(text, "resources", a, b) for a in vocab for b in vocab]
    calls += [(text, block, a) for block in ("outputs", "variables") for a in vocab]
    _assert_same(calls)


# -- unformatted plans --------------------------------------------------------


def _single_line_plan(n: int) -> str:
    resources = [
        {
            "address": f"aws_instance.r{i}",
            "mode": "managed",
            "type": "aws_instance",
            "name": f"r{i}",
            "values": {"ami": f"ami-{i}", "tags": {"Name": f"r{i}"}},
        }
        for i in range(n)
    ]
    changes = [{"address": r["address"], "type": r["type"], "change": {"actions": ["create"]}} for r in resources]
    return json.dumps(
        {
            "format_version": "1.2",
            "planned_values": {"root_module": {"resources": resources}},
            "resource_changes": changes,
        },
        separators=(",", ":"),
    )


def test_single_line_plan_matches_line_scan_and_parses_once(monkeypatch):
    text = _single_line_plan(60)
    assert "\n" not in text
    blobs = {"n": 0}
    real = jsonpos.canonical_json

    def counting(v):
        blobs["n"] += 1
        return real(v)

    monkeypatch.setattr(jsonpos, "canonical_json", counting)
    jsonpos._index.cache_clear()
    rows = rows_mod.build_rows_for_file("/tmp/p.json", "plan", text)
    assert len(rows) == 60
    for r in rows:
        expected = _line_scan(text, "resources", r["address"], r["type"])
        assert (r["start_line"], r["end_line"], r["source"]) == expected
    # the resource blobs are rendered once per file, not once per row
    assert blobs["n"] == 60
    # last match wins: "aws_instance.r1" is also a substring of r10..r19,
    # so r1's source is the last of those objects (the reference quirk)
    r1 = next(r for r in rows if r["name"] == "r1")
    assert json.loads(r1["source"])["address"] == "aws_instance.r19"


# -- one index per file -------------------------------------------------------


def test_index_built_once_per_file_text(monkeypatch):
    path = FIXTURES / "state" / "terraform.tfstate"
    text = path.read_text()
    jsonpos._index.cache_clear()
    calls = _rows_calls(monkeypatch, str(path), "state", text)
    info = jsonpos._index.cache_info()
    assert len(calls) > 1
    assert info.misses == 1 and info.hits == len(calls) - 1
