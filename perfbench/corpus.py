"""Seeded Terraform corpora for the benchmark, each with its own model of the
rows the engine must produce.

The model is written here, from the generator's own bookkeeping (what it
wrote, and on which lines), never by calling the package: the output checks
compare the engine against it.

Work per corpus is the same for every seed. Names, attribute values and which
file gets which size change with the seed; the multiset of file sizes does
not, so run-to-run spread across seeds stays small.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

RESOURCE_TYPES = ["aws_instance", "aws_s3_bucket", "aws_security_group", "aws_iam_role", "aws_lb"]
DATA_TYPES = ["aws_ami", "aws_vpc"]
ENVS = ["prod", "staging", "dev"]
WORDS = ["network", "storage", "compute", "billing", "audit", "ingress", "backup", "latency"]
PROVIDER = 'provider["registry.terraform.io/hashicorp/aws"]'


@dataclass
class Model:
    """Expected rows per table: one dict per row, with its path and line span."""

    resources: list[dict] = field(default_factory=list)
    data_sources: list[dict] = field(default_factory=list)
    providers: list[dict] = field(default_factory=list)
    modules: list[dict] = field(default_factory=list)
    outputs: list[dict] = field(default_factory=list)
    locals: list[dict] = field(default_factory=list)
    variables: list[dict] = field(default_factory=list)
    # engine-internal rows of the wide frame: one per ``terraform`` block
    settings: list[dict] = field(default_factory=list)

    def counts(self) -> dict[str, int]:
        return {
            "terraform_resource": len(self.resources),
            "terraform_data_source": len(self.data_sources),
            "terraform_provider": len(self.providers),
            "terraform_module": len(self.modules),
            "terraform_output": len(self.outputs),
            "terraform_local": len(self.locals),
            "terraform_variable": len(self.variables),
            "terraform_settings": len(self.settings),
        }

    def drop_path(self, path: str) -> None:
        for rows in self.__dict__.values():
            rows[:] = [r for r in rows if r["path"] != path]


@dataclass
class Corpus:
    config_glob: list[str]
    plan_glob: list[str]
    state_glob: list[str]
    files: list[str]
    n_bytes: int
    model: Model


class _Lines:
    """Text builder that knows the 1-based line each block starts and ends on."""

    def __init__(self):
        self.lines: list[str] = []

    def block(self, lines: list[str]) -> tuple[int, int]:
        start = len(self.lines) + 1
        self.lines.extend(lines)
        self.lines.append("")
        return start, start + len(lines) - 1

    def text(self) -> str:
        return "\n".join(self.lines)


def token(rng: random.Random, n: int = 8) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz0123456789") for _ in range(n))


# -- HCL config corpus -------------------------------------------------------


def _resource_lines(rtype: str, name: str, i: int, env: str, tag: str, rng: random.Random) -> list[str]:
    body = [f'resource "{rtype}" "{name}" {{']
    if rtype == "aws_instance":
        body += [
            f'  ami           = "ami-{token(rng)}"',
            "  instance_type = var.instance_type",
            f"  count         = {1 + i % 3}",
            f"  subnet_id     = module.vpc_0.private_subnets[{i % 2}]",
            "  root_block_device {",
            f"    volume_size = {20 + i % 5 * 10}",
            "    encrypted   = true",
            "  }",
        ]
    elif rtype == "aws_s3_bucket":
        body += [
            f'  bucket = "bkt-{token(rng)}-${{local.prefix}}"',
            "  lifecycle {",
            "    prevent_destroy = true",
            "  }",
        ]
    elif rtype == "aws_security_group":
        body += [f'  name        = "sg-{token(rng)}"', '  description = "managed by terraform"']
        for port in (443, 80):
            body += [
                "  ingress {",
                f"    from_port   = {port}",
                f"    to_port     = {port}",
                '    protocol    = "tcp"',
                '    cidr_blocks = ["10.0.0.0/8"]',
                "  }",
            ]
    elif rtype == "aws_iam_role":
        body += [
            f'  name               = "role-{token(rng)}"',
            '  assume_role_policy = jsonencode({ Version = "2012-10-17", Statement = [] })',
            "  depends_on         = [aws_s3_bucket.logs]",
        ]
    else:
        body += [
            f'  name               = "lb-{token(rng)}"',
            '  load_balancer_type = "application"',
            "  subnets            = module.vpc_0.public_subnets",
            f"  idle_timeout       = {30 + i % 4 * 15}",
        ]
    body += [
        "  tags = {",
        f'    Name        = "{tag}"',
        f'    Environment = "{env}"',
        f'    CostCenter  = "cc-{token(rng, 4)}"',
        "  }",
        "}",
    ]
    return body


def _main_tf(path: str, n_res: int, rng: random.Random, m: Model) -> str:
    out = _Lines()
    start, end = out.block(
        ["locals {", f'  prefix = "{token(rng, 6)}"', f'  owner  = "team-{token(rng, 4)}"',
         "  region = var.region", f"  shards = {rng.randint(2, 9)}", "}"]
    )
    for name in ("prefix", "owner", "region", "shards"):
        m.locals.append({"path": path, "name": name, "start": start, "end": end})
    for d, dtype in enumerate(DATA_TYPES):
        name = f"{dtype[4:]}_{d}"
        start, end = out.block(
            [f'data "{dtype}" "{name}" {{', "  most_recent = true", "  filter {",
             '    name   = "name"', f'    values = ["{token(rng)}-*"]', "  }", "}"]
        )
        m.data_sources.append({"path": path, "type": dtype, "name": name, "start": start, "end": end})
    start, end = out.block(
        ['module "vpc_0" {', '  source  = "terraform-aws-modules/vpc/aws"', '  version = "5.1.0"',
         f'  cidr    = "10.{rng.randint(0, 255)}.0.0/16"', "}"]
    )
    m.modules.append({"path": path, "name": "vpc_0", "start": start, "end": end})
    for i in range(n_res):
        rtype = RESOURCE_TYPES[i % len(RESOURCE_TYPES)]
        name = f"{rtype[4:]}_{i}_{token(rng, 4)}"
        env = rng.choice(ENVS)
        tag = f"{name}-{env}"
        start, end = out.block(_resource_lines(rtype, name, i, env, tag, rng))
        m.resources.append(
            {"path": path, "type": rtype, "address": f"{rtype}.{name}", "start": start, "end": end,
             "env": env}
        )
    return out.text()


def _variables_tf(path: str, rng: random.Random, m: Model, defaults: dict[str, str] | None = None) -> str:
    out = _Lines()
    names = ["region", "instance_type", "environment", "retention_days", "owner_email"]
    for name in names:
        word = rng.choice(WORDS)
        default = (defaults or {}).get(name) or f"{name[:3]}-{token(rng, 5)}"
        start, end = out.block(
            [f'variable "{name}" {{', "  type        = string", f'  default     = "{default}"',
             f'  description = "The {word} setting for {name}"', "}"]
        )
        m.variables.append(
            {"path": path, "name": name, "start": start, "end": end, "word": word, "default": default}
        )
    return out.text()


def _outputs_tf(path: str, rng: random.Random, m: Model) -> str:
    out = _Lines()
    for k in range(3):
        name = f"out_{k}_{token(rng, 4)}"
        start, end = out.block(
            [f'output "{name}" {{', "  value       = module.vpc_0.vpc_id", '  description = "exported id"', "}"]
        )
        m.outputs.append({"path": path, "name": name, "start": start, "end": end})
    return out.text()


def _versions_tf(path: str, rng: random.Random, m: Model) -> str:
    out = _Lines()
    start, end = out.block(
        ["terraform {", '  required_version = ">= 1.5.0"', "  required_providers {", "    aws = {",
         '      source  = "hashicorp/aws"', '      version = "~> 5.0"', "    }", "  }", "}"]
    )
    m.settings.append({"path": path, "name": "terraform", "start": start, "end": end})
    start, end = out.block(['provider "aws" {', f'  region = "us-east-{rng.randint(1, 2)}"', "}"])
    m.providers.append({"path": path, "name": "aws", "start": start, "end": end})
    return out.text()


def _write(path: str, text: str) -> int:
    with open(path, "w") as f:
        f.write(text)
    return len(text.encode())


def make_config_corpus(root: str, seed: int, n_dirs: int, sizes: list[int]) -> Corpus:
    """``n_dirs`` module dirs, each a large ``main.tf`` (resource counts drawn
    from ``sizes``, a fixed multiset permuted by seed) plus small
    ``variables.tf``, ``outputs.tf`` and ``versions.tf``."""
    rng = random.Random(seed)
    counts = [sizes[i % len(sizes)] for i in range(n_dirs)]
    rng.shuffle(counts)
    m = Model()
    files: list[str] = []
    n_bytes = 0
    for d in range(n_dirs):
        ddir = os.path.join(root, "config", ENVS[d % 3], f"svc{d:04d}_{token(rng, 4)}")
        os.makedirs(ddir)
        for fname, make in (
            ("main.tf", lambda p: _main_tf(p, counts[d], rng, m)),
            ("variables.tf", lambda p: _variables_tf(p, rng, m)),
            ("outputs.tf", lambda p: _outputs_tf(p, rng, m)),
            ("versions.tf", lambda p: _versions_tf(p, rng, m)),
        ):
            p = os.path.join(ddir, fname)
            n_bytes += _write(p, make(p))
            files.append(p)
    return Corpus([os.path.join(root, "config", "**", "*.tf")], [], [], files, n_bytes, m)


def rewrite_variables(path: str, seed: int, m: Model, defaults: dict[str, str]) -> None:
    """Rewrite one ``variables.tf`` with new defaults, updating the model."""
    m.variables[:] = [r for r in m.variables if r["path"] != path]
    _write(path, _variables_tf(path, random.Random(seed), m, defaults))


def add_resource_file(path: str, seed: int, m: Model) -> None:
    rng = random.Random(seed)
    out = _Lines()
    name = f"added_{token(rng, 6)}"
    env = rng.choice(ENVS)
    start, end = out.block(_resource_lines("aws_s3_bucket", name, 0, env, name, rng))
    m.resources.append(
        {"path": path, "type": "aws_s3_bucket", "address": f"aws_s3_bucket.{name}", "start": start,
         "end": end, "env": env}
    )
    _write(path, out.text())


# -- state / plan JSON corpus -------------------------------------------------


def _attributes(rtype: str, rng: random.Random, n_attrs: int) -> dict:
    attrs = {"id": f"{rtype[4:]}-{token(rng, 12)}", "arn": f"arn:aws:{rtype[4:]}::{token(rng, 12)}"}
    for k in range(n_attrs):
        attrs[f"attr_{k}"] = token(rng, 10)
    attrs["tags"] = {"Name": token(rng, 6), "Environment": rng.choice(ENVS)}
    attrs["timeouts"] = None
    return attrs


def _json_lines(obj, indent: int) -> list[str]:
    pad = " " * indent
    return [pad + ln for ln in json.dumps(obj, indent=2).split("\n")]


def _state_text(path: str, n_res: int, rng: random.Random, m: Model) -> str:
    """A ``terraform`` v4 state file, pretty-printed with two-space indent as
    terraform writes it. One resource in three has ``count`` instances."""
    outputs = {f"out_{k}_{token(rng, 4)}": {"value": token(rng), "type": "string"} for k in range(4)}
    lines = ["{", '  "version": 4,', '  "terraform_version": "1.5.7",', f'  "serial": {rng.randint(1, 999)},',
             f'  "lineage": "{token(rng, 16)}",', '  "outputs": {']
    for k, (name, out) in enumerate(outputs.items()):
        start = len(lines) + 1
        body = _json_lines(out, 4)
        body[0] = f'    "{name}": {{'
        body[-1] += "," if k < len(outputs) - 1 else ""
        lines += body
        m.outputs.append({"path": path, "name": name, "start": start, "end": len(lines)})
    lines += ["  },", '  "resources": [']
    for i in range(n_res):
        rtype = RESOURCE_TYPES[i % len(RESOURCE_TYPES)]
        name = f"{rtype[4:]}_{i}_{token(rng, 4)}"
        n_inst = 3 if i % 3 == 0 else 1
        instances = []
        for k in range(n_inst):
            inst = {"schema_version": 0}
            if n_inst > 1:
                inst["index_key"] = k
            inst["attributes"] = _attributes(rtype, rng, 6)
            inst["sensitive_attributes"] = []
            instances.append(inst)
        res = {"mode": "managed", "type": rtype, "name": name, "provider": PROVIDER, "instances": instances}
        start = len(lines) + 1
        body = _json_lines(res, 4)
        body[-1] += "," if i < n_res - 1 else ""
        lines += body
        for k in range(n_inst):
            addr = f"{rtype}.{name}[{k}]" if n_inst > 1 else f"{rtype}.{name}"
            m.resources.append({"path": path, "type": rtype, "address": addr, "start": start, "end": len(lines)})
    lines += ["  ],", '  "check_results": null', "}"]
    return "\n".join(lines) + "\n"


def _plan_text(path: str, n_res: int, rng: random.Random, m: Model) -> str:
    """A plan JSON (``terraform show -json``), pretty-printed. Only the
    ``planned_values`` resources become rows."""
    lines = ["{", '  "format_version": "1.2",', '  "terraform_version": "1.5.7",', '  "planned_values": {',
             '    "root_module": {', '      "resources": [']
    changes = []
    for i in range(n_res):
        rtype = RESOURCE_TYPES[i % len(RESOURCE_TYPES)]
        name = f"{rtype[4:]}_{i}_{token(rng, 4)}"
        address = f"{rtype}.{name}"
        res = {"address": address, "mode": "managed", "type": rtype, "name": name,
               "provider_name": "registry.terraform.io/hashicorp/aws", "schema_version": 0,
               "values": _attributes(rtype, rng, 4), "sensitive_values": {}}
        start = len(lines) + 1
        body = _json_lines(res, 8)
        body[-1] += "," if i < n_res - 1 else ""
        lines += body
        m.resources.append({"path": path, "type": rtype, "address": address, "start": start, "end": len(lines)})
        changes.append({"address": address, "mode": "managed", "type": rtype, "name": name,
                        "change": {"actions": ["create"], "before": None}})
    lines += ["      ]", "    }", "  },"]
    tail = _json_lines({"resource_changes": changes}, 0)
    lines += ["  " + ln for ln in tail[1:-1]]
    lines += ["}"]
    return "\n".join(lines) + "\n"


def make_state_corpus(root: str, seed: int, state_sizes: list[int], plan_sizes: list[int]) -> Corpus:
    """Large state files and plan files; resource counts per file are fixed
    multisets permuted by seed."""
    rng = random.Random(seed)
    state_sizes, plan_sizes = list(state_sizes), list(plan_sizes)
    rng.shuffle(state_sizes)
    rng.shuffle(plan_sizes)
    m = Model()
    files: list[str] = []
    n_bytes = 0
    sdir, pdir = os.path.join(root, "state"), os.path.join(root, "plan")
    os.makedirs(sdir)
    os.makedirs(pdir)
    for k, n in enumerate(state_sizes):
        p = os.path.join(sdir, f"{ENVS[k % 3]}-{token(rng, 4)}.tfstate")
        n_bytes += _write(p, _state_text(p, n, rng, m))
        files.append(p)
    for k, n in enumerate(plan_sizes):
        p = os.path.join(pdir, f"{ENVS[k % 3]}-{token(rng, 4)}.tfplan.json")
        n_bytes += _write(p, _plan_text(p, n, rng, m))
        files.append(p)
    return Corpus([], [os.path.join(pdir, "*.tfplan.json")], [os.path.join(sdir, "*.tfstate")], files, n_bytes, m)
