"""Per-file row builders: (path, kind, text) → wide rows for all 7 tables.

This is the executor-side compute of the engine: each input file is parsed
ONCE and exploded into rows for every table it feeds (the reference re-reads
and re-parses each file per table and per row —
/root/reference/terraform/table_terraform_resource.go:152,
/root/reference/terraform/utils.go:268-271,383-391 — our single pass is the
designed-in O(files) win, SURVEY.md §4).

Semantics ported (behavior, not code) from the reference builders:

- resource rows (config/plan/state branches):
  table_terraform_resource.go:145-404, parse_tfplan.go:38-59
- data source / provider / module / output / local / variable rows:
  table_terraform_{data_source,provider,module,output,local,variable}.go
- transform layer: ``FromCamel().NullIfZero()`` (plugin.go:22) and
  ``NullIfEmptyMap`` (utils.go:583-590) are applied HERE, at row build time:
  zero values (0, "", false) become None; empty argument/lifecycle maps
  become None. ``attributes`` has no NullIfEmptyMap in the reference, so an
  empty state-attributes map stays ``{}``.
- block positions (config): first block matching (type, labels)
  case-insensitively wins — repeated ``provider "aws"`` blocks and every
  local in a multi-block file all report the FIRST matching block's span
  (getBlock utils.go:268-298 breaks on first match; locals quirk SURVEY §2.4
  R6). Source text is the inclusive line range joined with "\n" (no trailing
  newline), unlike JSON-located sources which keep per-line "\n".
- variable quirks: ``type`` unwrapped from ``${...}`` via regex, else ""
  (table_terraform_variable.go:245-252); ``validation`` blocks regex-joined
  (:254-271); ``sensitive`` is type-checked but never assigned in the
  reference (:226-233) — we replicate (column always NULL) for parity, noted
  as a reference quirk.
"""

from __future__ import annotations

import json
import re
from typing import Any, Iterable

from ..functions.jsonenc import canonical_json, convert_expression_value
from ..hcl import parse_file
from ..hcl.parser import Block
from .jsonpos import find_block_lines

# Column order of the wide (union) schema — the discriminator plus the union
# of the seven table schemas (SURVEY.md §1.4).
WIDE_COLUMNS = [
    "tf_table",
    "name",
    "type",
    "mode",
    "address",
    "arguments",
    "attributes",
    "attributes_std",
    "count",
    "count_src",
    "for_each",
    "depends_on",
    "lifecycle",
    "provider",
    "alias",
    "version",
    "module_source",
    "value",
    "default_value",
    "description",
    "sensitive",
    "validation",
    "start_line",
    "end_line",
    "source",
    "path",
    # effective parse branch ("config" | "plan" | "state", with sniffed
    # plans stamped "plan") — carried for engine-internal audits (e.g.
    # config-vs-state drift); NOT projected into the seven public tables
    "file_kind",
]

_VAR_TYPE_RE = re.compile(r"^\$\{(.+)\}$", re.DOTALL)
_VALIDATION_RE = re.compile(r"validation\s*\{[^}]+\}")


class TerraformBuildError(ValueError):
    """A file failed to parse or a builder hit a type error (the reference
    fails the whole scan in these cases; callers may choose to skip)."""


def sniff_plan(text: str) -> dict[str, Any] | None:
    """Plan sniff: the parsed document if ``text`` is JSON with
    resource_changes + format_version keys (utils.go:360-372), else None."""
    try:
        data = json.loads(text)
    except (ValueError, TypeError):
        return None
    if isinstance(data, dict) and "resource_changes" in data and "format_version" in data:
        return data
    return None


def _nz_str(v: str | None) -> str | None:
    return v if v else None


def _nz_int(v: int | None) -> int | None:
    return v if v else None


def _nz_bool(v: bool | None) -> bool | None:
    return True if v else None


def _json_or_none_if_empty(m: dict | None) -> str | None:
    """NullIfEmptyMap + JSON marshal (sorted keys, Go map order)."""
    if not m:
        return None
    return canonical_json(m)


def _depends_on(v: Any, owner: str, name: str) -> str | None:
    if not isinstance(v, list):
        raise TerraformBuildError(f"The 'depends_on' argument for {owner} '{name}' must be of type list")
    # Go: fmt.Sprint over each element, then JSON []string marshal
    return json.dumps([_go_sprint(i) for i in v], ensure_ascii=False)


def _go_sprint(v: Any) -> str:
    if isinstance(v, str):
        return v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def _require_str(v: Any, arg: str, owner: str, name: str) -> str:
    if not isinstance(v, str):
        raise TerraformBuildError(f"The '{arg}' argument for {owner} '{name}' must be of type string")
    return v


def _count_fields(v: Any) -> tuple[int | None, str]:
    """count meta-arg → (int value or None, count_src JSON string).

    Literal numbers coerce to int (gocty, table_terraform_resource.go:327-335);
    expressions keep only count_src. A non-integral literal logs-and-keeps
    count=0 (→ NULL) in the reference.
    """
    count_src = convert_expression_value(v)
    count: int | None = None
    if isinstance(v, bool):
        count = None  # gocty bool→int conversion fails; count stays 0 → NULL
    elif isinstance(v, (int, float)):
        if isinstance(v, float) and not v.is_integer():
            count = None
        else:
            count = int(v)
    # NullIfZero applies to the INT column too: a literal `count = 0` is
    # indistinguishable from unset (SURVEY §7.4 risk 5)
    return _nz_int(count), count_src


def _empty_row(tf_table: str, path: str) -> dict[str, Any]:
    row = dict.fromkeys(WIDE_COLUMNS)
    row["tf_table"] = tf_table
    row["path"] = path
    return row


# ---------------------------------------------------------------------------
# Config (.tf) branch
# ---------------------------------------------------------------------------


class _PositionIndex:
    """First-match block position lookup, getBlock semantics
    (utils.go:268-314): case-insensitive on type and labels, first block in
    file order wins, source = inclusive line span joined by newline."""

    def __init__(self, blocks: list[Block], lines: list[str]):
        self._index: dict[tuple, tuple[int, int, str]] = {}
        for b in blocks:
            key = (b.block_type.lower(), tuple(l.lower() for l in b.labels))
            if key not in self._index:
                src = "\n".join(lines[b.start_line - 1 : b.end_line])
                self._index[key] = (b.start_line, b.end_line, src)

    def get(self, block_type: str, labels: Iterable[str]) -> tuple[int, int, str]:
        key = (block_type.lower(), tuple(l.lower() for l in labels))
        return self._index.get(key, (0, 0, ""))


def _config_rows(path: str, text: str) -> Iterable[dict[str, Any]]:
    blocks = parse_file(text)
    lines = text.split("\n")
    pos = _PositionIndex(blocks, lines)

    for blk in blocks:
        bt = blk.block_type
        if bt == "resource" and len(blk.labels) == 2:
            yield _resource_row(path, pos, blk.labels[0], blk.labels[1], blk.body)
        elif bt == "data" and len(blk.labels) == 2:
            yield _data_source_row(path, pos, blk.labels[0], blk.labels[1], blk.body)
        elif bt == "provider" and len(blk.labels) == 1:
            yield _provider_row(path, pos, blk.labels[0], blk.body)
        elif bt == "module" and len(blk.labels) == 1:
            yield _module_row(path, pos, blk.labels[0], blk.body)
        elif bt == "output" and len(blk.labels) == 1:
            yield _output_config_row(path, pos, blk.labels[0], blk.body)
        elif bt == "variable" and len(blk.labels) == 1:
            yield _variable_config_row(path, pos, blk.labels[0], blk.body)
        elif bt == "terraform" and not blk.labels:
            # terraform settings block (required_version /
            # required_providers / backend). The reference's HCL schema
            # recognizes the block (utils.go:316-325 lists "terraform",
            # plus a decoy top-level "required_providers" entry purely
            # for a better error message) but declares no table for it —
            # these rows are engine-internal like ``file_kind``: carried
            # in the wide frame (tf_table = 'terraform_settings') for
            # the settings audits, NOT projected into the seven public
            # tables. One row per terraform block; position/source share
            # the first block's span per the getBlock first-match quirk.
            row = _empty_row("terraform_settings", path)
            start, end, src = pos.get("terraform", [])
            row["start_line"] = _nz_int(start)
            row["end_line"] = _nz_int(end)
            row["source"] = _nz_str(src)
            row["arguments"] = _json_or_none_if_empty(blk.body)
            yield row
        elif bt == "moved" and not blk.labels:
            # moved block (refactoring rename: from/to addresses). The
            # reference's HCL schema recognizes the block
            # (utils.go:354-356) but declares no table for it — rows are
            # engine-internal like ``terraform_settings``: carried in
            # the wide frame (tf_table = 'terraform_moved') for the
            # refactor audit, NOT projected into the seven public
            # tables. Position/source share the first block's span per
            # the getBlock first-match quirk.
            row = _empty_row("terraform_moved", path)
            start, end, src = pos.get("moved", [])
            row["start_line"] = _nz_int(start)
            row["end_line"] = _nz_int(end)
            row["source"] = _nz_str(src)
            row["arguments"] = _json_or_none_if_empty(blk.body)
            yield row
        elif bt == "locals" and not blk.labels:
            start, end, src = pos.get("locals", [])
            for local_name, local_value in blk.body.items():
                row = _empty_row("terraform_local", path)
                row["name"] = local_name
                row["value"] = _nz_str(convert_expression_value(local_value))
                row["start_line"] = _nz_int(start)
                row["end_line"] = _nz_int(end)
                row["source"] = _nz_str(src)
                yield row


def _resource_row(path: str, pos: _PositionIndex, rtype: str, name: str, body: dict) -> dict:
    row = _empty_row("terraform_resource", path)
    row["type"] = rtype
    row["name"] = name
    start, end, src = pos.get("resource", [rtype, name])
    row["start_line"], row["end_line"], row["source"] = _nz_int(start), _nz_int(end), _nz_str(src)

    arguments: dict[str, Any] = {}
    lifecycle: dict[str, Any] = {}
    for k, v in body.items():
        if k == "count":
            row["count"], row["count_src"] = _count_fields(v)
        elif k == "provider":
            row["provider"] = _nz_str(_require_str(v, "provider", "resource", name))
        elif k == "name":
            _require_str(v, "name", "resource", name)
            # Name is already set from the label, so the reference never
            # overwrites it here (table_terraform_resource.go:343-349)
        elif k == "type":
            _require_str(v, "type", "resource", name)
            arguments["type"] = v
        elif k == "mode":
            row["mode"] = _nz_str(_require_str(v, "mode", "resource", name))
        elif k == "for_each":
            row["for_each"] = _nz_str(convert_expression_value(v))
        elif k == "lifecycle":
            if not isinstance(v, dict):
                raise TerraformBuildError(f"The 'lifecycle' argument for resource '{name}' must be of type map")
            lifecycle.update(v)
        elif k == "depends_on":
            row["depends_on"] = _depends_on(v, "resource", name)
        elif k == "instances":
            pass
        else:
            arguments[k] = v
    row["arguments"] = _json_or_none_if_empty(arguments)
    row["lifecycle"] = _json_or_none_if_empty(lifecycle)
    # attributes_std mirrors arguments for config files (resource.go:223-224)
    row["attributes_std"] = row["arguments"]
    row["address"] = f"{rtype}.{name}"
    return row


def _data_source_row(path: str, pos: _PositionIndex, dtype: str, name: str, body: dict) -> dict:
    row = _empty_row("terraform_data_source", path)
    row["type"] = dtype
    row["name"] = name
    start, end, src = pos.get("data", [dtype, name])
    row["start_line"], row["end_line"], row["source"] = _nz_int(start), _nz_int(end), _nz_str(src)

    arguments: dict[str, Any] = {}
    for k, v in body.items():
        if k == "count":
            row["count"], row["count_src"] = _count_fields(v)
        elif k == "provider":
            row["provider"] = _nz_str(_require_str(v, "provider", "data source", name))
        elif k == "for_each":
            row["for_each"] = _nz_str(convert_expression_value(v))
        elif k == "depends_on":
            row["depends_on"] = _depends_on(v, "data source", name)
        else:
            arguments[k] = v
    row["arguments"] = _json_or_none_if_empty(arguments)
    return row


def _provider_row(path: str, pos: _PositionIndex, name: str, body: dict) -> dict:
    row = _empty_row("terraform_provider", path)
    row["name"] = name
    start, end, src = pos.get("provider", [name])
    row["start_line"], row["end_line"], row["source"] = _nz_int(start), _nz_int(end), _nz_str(src)

    arguments: dict[str, Any] = {}
    for k, v in body.items():
        if k == "alias":
            row["alias"] = _nz_str(_require_str(v, "alias", "provider", name))
        elif k == "version":
            row["version"] = _nz_str(_require_str(v, "version", "provider", name))
        else:
            arguments[k] = v
    row["arguments"] = _json_or_none_if_empty(arguments)
    return row


def _module_row(path: str, pos: _PositionIndex, name: str, body: dict) -> dict:
    row = _empty_row("terraform_module", path)
    row["name"] = name
    start, end, src = pos.get("module", [name])
    row["start_line"], row["end_line"], row["source"] = _nz_int(start), _nz_int(end), _nz_str(src)

    arguments: dict[str, Any] = {}
    for k, v in body.items():
        if k == "source":
            row["module_source"] = _nz_str(_require_str(v, "source", "module", name))
        elif k == "version":
            row["version"] = _nz_str(_require_str(v, "version", "module", name))
        elif k == "count":
            row["count"], row["count_src"] = _count_fields(v)
        elif k == "provider":
            row["provider"] = _nz_str(_require_str(v, "provider", "module", name))
        elif k == "for_each":
            row["for_each"] = _nz_str(convert_expression_value(v))
        elif k == "depends_on":
            row["depends_on"] = _depends_on(v, "module", name)
        elif k == "lifecycle":
            pass  # reserved for future terraform versions; ignored (module.go:243-245)
        else:
            arguments[k] = v
    row["arguments"] = _json_or_none_if_empty(arguments)
    return row


def _output_config_row(path: str, pos: _PositionIndex, name: str, body: dict) -> dict:
    row = _empty_row("terraform_output", path)
    row["name"] = name
    start, end, src = pos.get("output", [name])
    row["start_line"], row["end_line"], row["source"] = _nz_int(start), _nz_int(end), _nz_str(src)
    _output_fields(row, name, body)
    return row


def _output_fields(row: dict, name: str, body: dict) -> None:
    for k, v in body.items():
        if k == "description":
            row["description"] = _nz_str(_require_str(v, "description", "output", name))
        elif k == "value":
            row["value"] = _nz_str(convert_expression_value(v))
        elif k == "sensitive":
            if not isinstance(v, bool):
                raise TerraformBuildError(f"Failed to resolve 'sensitive' argument for output '{name}'")
            row["sensitive"] = _nz_bool(v)
        elif k == "depends_on":
            row["depends_on"] = _depends_on(v, "output", name)


def _variable_config_row(path: str, pos: _PositionIndex, name: str, body: dict) -> dict:
    row = _empty_row("terraform_variable", path)
    row["name"] = name
    start, end, src = pos.get("variable", [name])
    row["start_line"], row["end_line"], row["source"] = _nz_int(start), _nz_int(end), _nz_str(src)
    if src:
        found = _VALIDATION_RE.findall(src)
        if found:
            row["validation"] = "\n\n".join(found)
    _variable_fields(row, name, body)
    return row


def _variable_fields(row: dict, name: str, body: dict) -> None:
    for k, v in body.items():
        if k == "description":
            row["description"] = _nz_str(_require_str(v, "description", "variable", name))
        elif k == "default":
            row["default_value"] = _nz_str(convert_expression_value(v))
        elif k == "sensitive":
            # Reference quirk (table_terraform_variable.go:226-233): the value
            # is type-checked but never assigned, so the column is always NULL.
            if not isinstance(v, bool):
                raise TerraformBuildError(f"failed to resolve 'sensitive' argument for variable '{name}'")
        elif k == "type":
            if isinstance(v, str):
                m = _VAR_TYPE_RE.match(v)
                row["type"] = _nz_str(m.group(1) if m else "")


# ---------------------------------------------------------------------------
# Plan JSON branch — feeds terraform_resource only (SURVEY §1.4 routing)
# ---------------------------------------------------------------------------


def _load_plan(text: str) -> Any:
    try:
        return json.loads(text)
    except (ValueError, TypeError) as e:
        raise TerraformBuildError(f"failed to unmarshal the plan file content: {e}") from e


def _plan_rows(path: str, text: str, data: Any) -> Iterable[dict[str, Any]]:
    resources = (((data or {}).get("planned_values") or {}).get("root_module") or {}).get("resources") or []
    for r in resources:
        row = _empty_row("terraform_resource", path)
        row["name"] = _nz_str(r.get("name") or "")
        row["type"] = _nz_str(r.get("type") or "")
        row["mode"] = _nz_str(r.get("mode") or "")
        row["address"] = _nz_str(r.get("address") or "")
        values = r.get("values")
        row["arguments"] = _json_or_none_if_empty(values if isinstance(values, dict) else None)
        row["attributes_std"] = row["arguments"]
        start, end, src = find_block_lines(text, "resources", r.get("address") or "", r.get("type") or "")
        row["start_line"], row["end_line"], row["source"] = _nz_int(start), _nz_int(end), _nz_str(src)
        if not row["address"]:
            row["address"] = f"{row['type']}.{row['name']}"
        yield row


# ---------------------------------------------------------------------------
# State JSON branch — resources (exploded per instance), outputs, variables
# ---------------------------------------------------------------------------


def _state_rows(path: str, text: str) -> Iterable[dict[str, Any]]:
    try:
        data = json.loads(text)
    except (ValueError, TypeError) as e:
        raise TerraformBuildError(f"failed to parse state file {path}: {e}") from e
    if not isinstance(data, dict):
        return

    for resource in data.get("resources") or []:
        if not isinstance(resource, dict):
            continue
        rtype = resource.get("type") or ""
        rname = resource.get("name") or ""
        start, end, src = find_block_lines(text, "resources", rtype, rname)
        # one row PER INSTANCE (count/for_each explosion,
        # table_terraform_resource.go:233-275)
        for inst in resource.get("instances") or []:
            row = _empty_row("terraform_resource", path)
            row["type"] = _nz_str(rtype)
            row["name"] = _nz_str(rname)
            row["start_line"], row["end_line"], row["source"] = _nz_int(start), _nz_int(end), _nz_str(src)
            arguments: dict[str, Any] = {}
            for k, v in resource.items():
                if k == "mode":
                    row["mode"] = _nz_str(_require_str(v, "mode", "resource", rname))
                elif k == "provider":
                    row["provider"] = _nz_str(_require_str(v, "provider", "resource", rname))
                elif k in ("name", "instances"):
                    pass
                elif k == "type":
                    arguments["type"] = v
                elif k == "count":
                    row["count"], row["count_src"] = _count_fields(v)
                elif k == "for_each":
                    row["for_each"] = _nz_str(convert_expression_value(v))
                elif k == "depends_on":
                    row["depends_on"] = _depends_on(v, "resource", rname)
                elif k == "lifecycle" and isinstance(v, dict):
                    row["lifecycle"] = _json_or_none_if_empty(v)
                else:
                    arguments[k] = v
            row["arguments"] = _json_or_none_if_empty(arguments)

            address = f"{rtype}.{rname}"
            if isinstance(inst, dict):
                attrs = inst.get("attributes")
                if attrs is not None:
                    # attributes has NO NullIfEmptyMap — {} stays (SURVEY §1.3)
                    row["attributes"] = canonical_json(attrs)
                idx = inst.get("index_key")
                # only numeric index keys reformat the address
                # (table_terraform_resource.go:257-261)
                if isinstance(idx, (int, float)) and not isinstance(idx, bool):
                    address = f"{rtype}.{rname}[{_go_sprint(idx)}]"
            row["attributes_std"] = row["attributes"]
            row["address"] = address
            yield row

    outputs = data.get("outputs")
    if isinstance(outputs, dict):
        for name, out in outputs.items():
            row = _empty_row("terraform_output", path)
            row["name"] = name
            start, end, src = find_block_lines(text, "outputs", name)
            row["start_line"], row["end_line"], row["source"] = _nz_int(start), _nz_int(end), _nz_str(src)
            if isinstance(out, dict):
                _output_fields(row, name, out)
            yield row

    variables = data.get("variables")
    if isinstance(variables, dict):
        for name, var in variables.items():
            row = _empty_row("terraform_variable", path)
            row["name"] = name
            start, end, src = find_block_lines(text, "variables", name)
            row["start_line"], row["end_line"], row["source"] = _nz_int(start), _nz_int(end), _nz_str(src)
            if isinstance(var, dict):
                _variable_fields(row, name, var)
            yield row


# ---------------------------------------------------------------------------
# public entry
# ---------------------------------------------------------------------------


def build_rows_for_file(path: str, kind: str, text: str) -> list[dict[str, Any]]:
    """Parse one file and return wide rows for every table it feeds.

    ``kind`` is "config" | "plan" | "state" (how the file was routed at
    discovery). A config-routed file whose content sniffs as a plan is
    promoted (utils.go:360-372 + table_terraform_resource.go:159-161) — and,
    matching the reference's routing matrix (SURVEY §1.4), then feeds ONLY
    terraform_resource.
    """
    if kind == "state":
        rows, eff = list(_state_rows(path, text)), "state"
    elif kind == "plan":
        rows, eff = list(_plan_rows(path, text, _load_plan(text))), "plan"
    elif (plan := sniff_plan(text)) is not None:
        rows, eff = list(_plan_rows(path, text, plan)), "plan"
    else:
        rows, eff = list(_config_rows(path, text)), "config"
    for r in rows:
        r["file_kind"] = eff
    return rows
