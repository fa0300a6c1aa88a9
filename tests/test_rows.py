"""Row-builder tests: one parse pass per file → wide rows for all 7 tables.

Behavioral contract from the reference builders (SURVEY.md §2.4); each case
cites the reference file:line it mirrors.
"""

import json
import pathlib

import pytest

from steampipe_plugin_terraform_spark.tfcore.rows import build_rows_for_file

FIXTURES = pathlib.Path(__file__).parent / "fixtures"


def _rows(kind: str, relpath: str):
    path = FIXTURES / relpath
    return build_rows_for_file(str(path), kind, path.read_text())


@pytest.fixture(scope="module")
def config_rows():
    return _rows("config", "config/main.tf")


@pytest.fixture(scope="module")
def plan_rows():
    return _rows("plan", "plan/tfplan.json")


@pytest.fixture(scope="module")
def state_rows():
    return _rows("state", "state/terraform.tfstate")


def by_table(rows, table):
    return [r for r in rows if r["tf_table"] == table]


# -- config: resources (table_terraform_resource.go:213-232,282-404) --


def test_config_resources(config_rows):
    res = {r["name"]: r for r in by_table(config_rows, "terraform_resource")}
    assert set(res) == {"app_server", "b", "empty"}

    app = res["app_server"]
    assert app["type"] == "aws_instance"
    assert app["address"] == "aws_instance.app_server"
    assert app["mode"] is None  # config rows have no mode
    assert app["count"] == 2
    assert app["count_src"] == "2"
    args = json.loads(app["arguments"])
    assert args == {
        "ami": "ami-830c94e3",
        "instance_type": "${var.instance_type}",
        "tags": {"Name": "ExampleAppServerInstance"},
    }
    assert app["attributes_std"] == app["arguments"]
    assert app["attributes"] is None
    assert json.loads(app["depends_on"]) == ["${aws_s3_bucket.b}"]
    assert json.loads(app["lifecycle"]) == {"create_before_destroy": True}
    assert app["source"].startswith('resource "aws_instance" "app_server" {')
    assert app["source"].rstrip().endswith("}")
    assert app["start_line"] < app["end_line"]

    b = res["b"]
    assert b["count"] is None  # expression count → NULL int (NullIfZero)
    assert b["count_src"] == '"${local.cost_center}"'
    assert b["provider"] == "${aws.east}"

    empty = res["empty"]
    assert empty["arguments"] is None  # NullIfEmptyMap (utils.go:583-590)
    assert empty["lifecycle"] is None


def test_config_data_source(config_rows):
    (ds,) = by_table(config_rows, "terraform_data_source")
    assert (ds["type"], ds["name"]) == ("aws_ami", "ubuntu")
    args = json.loads(ds["arguments"])
    assert args["most_recent"] is True
    # repeated nested block → list of dicts (provider.go:119-145 shape)
    assert [f["name"] for f in args["filter"]] == ["name", "virtualization-type"]


def test_config_providers_share_first_block_position(config_rows):
    provs = by_table(config_rows, "terraform_provider")
    assert len(provs) == 2
    # getBlock first-match: both rows report the FIRST provider "aws" block
    assert provs[0]["start_line"] == provs[1]["start_line"]
    assert provs[0]["source"] == provs[1]["source"]
    aliased = next(p for p in provs if p["alias"] == "east")
    assert aliased["version"] == "~> 4.0"
    assert json.loads(aliased["arguments"]) == {"region": "us-east-1"}
    plain = next(p for p in provs if p["alias"] is None)
    assert json.loads(plain["arguments"]) == {"region": "us-west-2"}


def test_config_module(config_rows):
    (mod,) = by_table(config_rows, "terraform_module")
    assert mod["name"] == "vpc"
    assert mod["module_source"] == "terraform-aws-modules/vpc/aws"
    assert mod["version"] == "5.0.0"
    assert json.loads(mod["arguments"]) == {"cidr": "10.0.0.0/16"}
    assert mod["for_each"].startswith('"${toset(')


def test_config_output(config_rows):
    (out,) = by_table(config_rows, "terraform_output")
    assert out["name"] == "bucket_arn"
    assert out["value"] == '"${aws_s3_bucket.b.arn}"'
    assert out["description"] == "ARN"
    assert out["sensitive"] is True
    assert json.loads(out["depends_on"]) == ["${aws_s3_bucket.b}"]


def test_config_variable(config_rows):
    (var,) = by_table(config_rows, "terraform_variable")
    assert var["name"] == "instance_type"
    assert var["type"] == "string"  # "${string}" regex-stripped (:245-252)
    assert var["default_value"] == '"t2.micro"'
    assert var["description"] == "EC2 type"
    # reference quirk: sensitive parsed but never assigned (:226-233)
    assert var["sensitive"] is None
    assert var["validation"].startswith("validation {")
    assert "error_message" in var["validation"]


def test_config_locals_first_block_quirk(config_rows):
    locs = {r["name"]: r for r in by_table(config_rows, "terraform_local")}
    assert set(locs) == {"owner", "cost_center", "tags"}
    assert locs["owner"]["value"] == '"team-a"'
    assert locs["cost_center"]["value"] == "42"
    assert json.loads(locs["tags"]["value"]) == {"env": "dev"}
    # ALL locals report the FIRST locals block's span (SURVEY §2.4 R6)
    spans = {(r["start_line"], r["end_line"], r["source"]) for r in locs.values()}
    assert len(spans) == 1
    assert 'owner = "team-a"' in locs["cost_center"]["source"]


# -- plan (parse_tfplan.go:38-59) --


def test_plan_rows(plan_rows):
    assert all(r["tf_table"] == "terraform_resource" for r in plan_rows)
    assert [r["address"] for r in plan_rows] == [
        "aws_instance.app_server[0]",
        "aws_instance.app_server[1]",
    ]
    r0 = plan_rows[0]
    assert r0["mode"] == "managed"
    assert json.loads(r0["arguments"]) == {"ami": "ami-830c94e3", "instance_type": "t2.micro"}
    assert r0["attributes_std"] == r0["arguments"]
    assert r0["start_line"] < r0["end_line"]
    assert '"address": "aws_instance.app_server[0]"' in r0["source"]
    # the two plan resources locate different blocks
    assert plan_rows[1]["start_line"] > r0["start_line"]


def test_plan_sniff_promotes_config_routed_file():
    rows = _rows("config", "plan/tfplan.json")
    assert len(rows) == 2  # still plan-parsed (utils.go:360-372 sniff)


def test_plan_sniffed_file_parses_once(monkeypatch):
    # the sniff's parse is reused for the rows, not repeated
    calls = {"n": 0}
    real = json.loads

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(json, "loads", counting)
    assert _rows("config", "plan/tfplan.json") == _rows("plan", "plan/tfplan.json")
    assert calls["n"] == 2  # one parse per build


# -- state (table_terraform_resource.go:233-275, output.go:153-165) --


def test_state_resource_instance_explosion(state_rows):
    res = by_table(state_rows, "terraform_resource")
    addrs = sorted(r["address"] for r in res)
    assert addrs == [
        "aws_instance.app_server[0]",
        "aws_instance.app_server[1]",
        "aws_s3_bucket.b",
    ]
    by_addr = {r["address"]: r for r in res}
    inst0 = by_addr["aws_instance.app_server[0]"]
    assert inst0["mode"] == "managed"
    assert inst0["provider"] == 'provider["registry.terraform.io/hashicorp/aws"]'
    attrs = json.loads(inst0["attributes"])
    assert attrs["id"] == "i-0123"
    assert inst0["attributes_std"] == inst0["attributes"]
    # resource-level "type" lands in arguments (resource.go:351-358)
    assert json.loads(inst0["arguments"]) == {"type": "aws_instance"}
    # state block located by type+name line scan
    assert inst0["start_line"] < inst0["end_line"]
    assert '"type": "aws_instance"' in inst0["source"]


def test_state_output(state_rows):
    (out,) = by_table(state_rows, "terraform_output")
    assert out["name"] == "bucket_arn"
    assert out["value"] == '"arn:aws:s3:::my-app-bucket"'
    # single-line "name": { ... } entry → whole-file fallback span
    assert out["start_line"] == 1


def test_single_line_state_fallback():
    blob = json.dumps(
        {
            "version": 4,
            "outputs": {"o": {"value": 7, "type": "number"}},
            "resources": [],
        },
        separators=(",", ":"),
    )
    rows = build_rows_for_file("/tmp/x.tfstate", "state", blob)
    (out,) = [r for r in rows if r["tf_table"] == "terraform_output"]
    assert out["value"] == "7"
    assert out["start_line"] == 1 and out["end_line"] == 1
