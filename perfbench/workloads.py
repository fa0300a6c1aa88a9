"""The four benchmark workloads.

Each workload has the same shape: ``prepare`` builds its inputs and any
untimed state (it runs several times in set-up, each time on a fresh corpus,
and the last one is kept), ``op`` is one timed operation of the closed loop,
and ``check`` compares that operation's result with the generator's model
outside the timed region.

Why these four: each is the one place where some layer does most of the work.

- ``tf_config_scan``: discovery, the binaryFile read, the Arrow hand-off and
  HCL parsing (jsonpos does none).
- ``tf_state_scan``: ``json`` and ``jsonpos.find_block_lines`` (the HCL
  parser does none); the file with the most resources sets the op time.
- ``tf_warm_query``: Catalyst and the cached-frame scan (parsing does none).
- ``tf_watch_refresh``: the driver-side glob/stat, ``engine.refresh`` and
  re-materializing the cached frame.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import Counter

from pyspark.sql import Observation
from pyspark.sql import functions as F

import corpus as C
from steampipe_plugin_terraform_spark import TerraformEngine
from steampipe_plugin_terraform_spark.streaming.watch import TerraformWatcher

# module dirs x 4 files: 400 files, below the 1,024-root listing-job
# threshold in session.py, so a run holds several ops
CONFIG_DIRS = 100
MAIN_TF_SIZES = [20, 24, 28, 32, 36]
STATE_SIZES = [150, 200, 200, 250]
PLAN_SIZES = [120, 160]
SAMPLES_PER_OP = 3


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class _Workload:
    name = ""
    scans = False
    # untimed ops after the last ``prepare``, so the timed ops do not pay
    # first-use costs (JIT, Python worker start) that the set-up scans of
    # the scan workloads already paid
    warmup_ops = 0

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed * 7919 + 1)
        self.corpus: C.Corpus | None = None

    def _fresh_dir(self, k: int) -> str:
        d = os.path.join(self.work, f"corpus{k}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def release(self) -> None:
        """Drop what the previous ``prepare`` built."""

    def trace_counts(self, tracer, i: int, out) -> None:
        """Per-op counts for the traced run that only the op's result shows."""


class _Scan(_Workload):
    """Each op is a cold scan: a fresh ``TerraformEngine(cache=False)`` whose
    ``wide()`` is written to the noop sink. Per-table row counts, position
    sums and a few sampled resource positions ride along as a
    ``DataFrame.observe`` on the same job, so checking costs no extra scan."""

    scans = True

    def make_corpus(self, root: str) -> C.Corpus:
        raise NotImplementedError

    def engine(self) -> TerraformEngine:
        c = self.corpus
        return TerraformEngine(
            self.spark, config_paths=c.config_glob, plan_paths=c.plan_glob, state_paths=c.state_glob,
            cache=False,
        )

    def prepare(self, k: int) -> None:
        self.corpus = self.make_corpus(self._fresh_dir(k))
        out = self.op(-1 - k)
        if not self.check(-1 - k, out):
            raise RuntimeError(f"{self.name}: set-up scan does not match the corpus model")

    def op(self, i: int):
        samples = self.rng.sample(self.corpus.model.resources, SAMPLES_PER_OP)
        exprs = [F.count(F.when(F.col("tf_table") == t, 1)).alias(t) for t in self.corpus.model.counts()]
        res = F.col("tf_table") == "terraform_resource"
        exprs += [
            F.sum(F.when(res, F.col("start_line"))).alias("sum_start"),
            F.sum(F.when(res, F.col("end_line"))).alias("sum_end"),
        ]
        for k, s in enumerate(samples):
            hit = res & (F.col("path") == s["path"]) & (F.col("address") == s["address"])
            exprs.append(F.max(F.when(hit, F.col("start_line") * 1_000_000 + F.col("end_line"))).alias(f"s{k}"))
        obs = Observation(f"scan{i}")
        noop(self.engine().wide().observe(obs, *exprs))
        return samples, obs

    def check(self, i: int, out) -> bool:
        samples, obs = out
        got = obs.get
        m = self.corpus.model
        ok = all(got[t] == n for t, n in m.counts().items())
        ok &= got["sum_start"] == sum(r["start"] for r in m.resources)
        ok &= got["sum_end"] == sum(r["end"] for r in m.resources)
        for k, s in enumerate(samples):
            ok &= got[f"s{k}"] == s["start"] * 1_000_000 + s["end"]
        return bool(ok)


class ConfigScan(_Scan):
    name = "tf_config_scan"

    def make_corpus(self, root):
        return C.make_config_corpus(root, self.seed, CONFIG_DIRS, MAIN_TF_SIZES)


class StateScan(_Scan):
    name = "tf_state_scan"

    def make_corpus(self, root):
        return C.make_state_corpus(root, self.seed, STATE_SIZES, PLAN_SIZES)


class _Warm(_Workload):
    """Set-up parses the config corpus once into the engine's cached wide
    frame and registers the seven views."""

    eng: TerraformEngine | None = None

    def prepare(self, k: int) -> None:
        self.release()
        self.corpus = C.make_config_corpus(self._fresh_dir(k), self.seed, CONFIG_DIRS, MAIN_TF_SIZES)
        self.eng = TerraformEngine(self.spark, config_paths=self.corpus.config_glob)
        n = self.eng.wide().count()
        self.eng.register_views()
        want = sum(self.corpus.model.counts().values())
        if n != want:
            raise RuntimeError(f"{self.name}: cached frame has {n} rows, model expects {want}")

    def release(self) -> None:
        if self.eng is not None:
            self.eng.unpersist()
            self.eng = None

    def sql(self, text: str, **args) -> list[tuple]:
        return [tuple(r) for r in self.spark.sql(text, args=args or None).collect()]


# The reference docs' example queries (docs/TABLES.md translations): a type
# filter on a JSON tag, a group-by, a cross-table join on path, a path point
# lookup and a variable search. ``:arg`` is drawn per op from the seed.
QUERIES = {
    "type_tag_filter": "SELECT address, path FROM terraform_resource WHERE type = 'aws_instance' "
                       "AND get_json_object(arguments, '$.tags.Environment') = :arg",
    "group_by_type": "SELECT type, count(*) AS n FROM terraform_resource GROUP BY type",
    "join_on_path": "SELECT d.type, count(*) AS n FROM terraform_resource r JOIN terraform_data_source d "
                    "ON r.path = d.path WHERE r.type = :arg GROUP BY d.type",
    "path_lookup": "SELECT address, start_line, end_line FROM terraform_resource WHERE path = :arg",
    "variable_search": "SELECT name, path FROM terraform_variable WHERE description LIKE :arg",
}
QUERY_MIX = list(QUERIES)


class WarmQuery(_Warm):
    """Each op runs the whole query mix once, in order, like a dashboard
    refresh: the median of single queries from five latency classes would
    jump between classes from run to run. The traced run reports each
    query's latency."""

    name = "tf_warm_query"
    warmup_ops = 2

    def op(self, i: int):
        m = self.corpus.model
        args = {
            "type_tag_filter": self.rng.choice(C.ENVS),
            "group_by_type": None,
            "join_on_path": self.rng.choice(C.RESOURCE_TYPES),
            "path_lookup": self.rng.choice(m.resources)["path"],
            "variable_search": f"%{self.rng.choice(C.WORDS)}%",
        }
        out = []
        for kind, text in QUERIES.items():
            t0 = time.perf_counter()
            got = self.sql(text) if args[kind] is None else self.sql(text, arg=args[kind])
            out.append((kind, args[kind], got, time.perf_counter() - t0))
        return out

    def check(self, i: int, out) -> bool:
        return all(sorted(got) == sorted(self.answer(kind, arg)) for kind, arg, got, _ in out)

    def answer(self, kind: str, arg) -> list[tuple]:
        m = self.corpus.model
        if kind == "type_tag_filter":
            return [(r["address"], r["path"]) for r in m.resources if r["type"] == "aws_instance" and r["env"] == arg]
        if kind == "group_by_type":
            return list(Counter(r["type"] for r in m.resources).items())
        if kind == "join_on_path":
            per_path = Counter(r["path"] for r in m.resources if r["type"] == arg)
            joined = Counter()
            for d in m.data_sources:
                joined[d["type"]] += per_path[d["path"]]
            return [(t, n) for t, n in joined.items() if n]
        if kind == "path_lookup":
            return [(r["address"], r["start"], r["end"]) for r in m.resources if r["path"] == arg]
        return [(r["name"], r["path"]) for r in m.variables if r["word"] == arg.strip("%")]

    def trace_counts(self, tracer, i: int, out) -> None:
        for kind, _, _, dt in out:
            tracer.count(f"sql.{kind}_ms", dt * 1e3, i)


class WatchRefresh(_Warm):
    """Each op edits, adds or deletes one seeded file, runs one
    ``TerraformWatcher.poll()`` and a query that shows the change. The
    actions cycle in a fixed order (a delete re-parses nothing, so a seeded
    mix would move the median) whose odd length keeps the traced run's
    every-other-op tracing off any one action; the seed picks files and
    values. Each added file is deleted again, so the corpus size stays
    constant."""

    name = "tf_watch_refresh"
    warmup_ops = 1
    ACTIONS = ["modify", "add", "modify", "delete", "modify"]

    def prepare(self, k: int) -> None:
        super().prepare(k)
        self.watcher = TerraformWatcher(self.eng)
        self.added: list[str] = []
        self.main_dirs = sorted({os.path.dirname(p) for p in self.corpus.files})

    def _touch(self, path: str) -> None:
        # a fresh mtime even when the edit keeps the size and lands in the
        # same clock tick as the previous write
        ns = time.time_ns() + 1_000_000_000
        os.utime(path, ns=(ns, ns))

    def op(self, i: int):
        m = self.corpus.model
        action = self.ACTIONS[i % len(self.ACTIONS)]
        if action == "modify":
            path = os.path.join(self.rng.choice(self.main_dirs), "variables.tf")
            name = self.rng.choice([r["name"] for r in m.variables if r["path"] == path])
            defaults = {r["name"]: r["default"] for r in m.variables if r["path"] == path}
            defaults[name] = f"edit{i}-{C.token(self.rng, 5)}"
            C.rewrite_variables(path, self.rng.randrange(1 << 30), m, defaults)
            self._touch(path)
            expect = [(f'"{defaults[name]}"',)]
            changed = self.watcher.poll()
            got = self.sql("SELECT default_value FROM terraform_variable WHERE path = :p AND name = :n",
                           p=path, n=name)
        else:
            if action == "add":
                path = os.path.join(self.rng.choice(self.main_dirs), f"extra_{C.token(self.rng, 6)}.tf")
                C.add_resource_file(path, self.rng.randrange(1 << 30), m)
                self.added.append(path)
                expect = [(r["address"],) for r in m.resources if r["path"] == path]
            else:
                path = self.added.pop()
                os.remove(path)
                m.drop_path(path)
                expect = []
            changed = self.watcher.poll()
            got = self.sql("SELECT address FROM terraform_resource WHERE path = :p", p=path)
        return action, path, changed, expect, got

    def check(self, i: int, out) -> bool:
        action, path, changed, expect, got = out
        return changed == {path} and sorted(got) == sorted(expect)

    def trace_counts(self, tracer, i: int, out) -> None:
        # every refresh re-materializes the whole cached frame; only the
        # changed file's rows are new
        m = self.corpus.model
        total = sum(m.counts().values())
        changed = sum(1 for rows in m.__dict__.values() for r in rows if r["path"] == out[1])
        tracer.count("engine.refresh_rows", total, i)
        tracer.count("engine.refresh_useful", changed / total, i)


WORKLOADS = {w.name: w for w in (ConfigScan, StateScan, WarmQuery, WatchRefresh)}
