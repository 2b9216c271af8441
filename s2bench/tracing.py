"""Spans around the benchmark's calls into the engine, and Spark's own
per-execution SQL and stage metrics.

Spans are kept in memory and written out once, at the end of a traced
run. Spark metrics come from the driver UI's REST API on localhost
(`/api/v1/applications/<id>/sql` and `/stages`), which serves the same
status store the SQL tab shows; no network beyond the loopback is used.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import urllib.request


class Tracer:
    """Records (name, start, end, parent) spans; a disabled tracer
    records nothing and costs one attribute test per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def wrap(self, name: str, fn):
        """`fn` with every call recorded as a span named `name`."""
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def total_s(self, name: str, since: int = 0, top_level: bool = True) -> float:
        """Summed duration of spans named `name` recorded after span
        index `since`; with top_level, a span nested in another of the
        same name is not counted twice."""
        out = 0.0
        for rec in self.spans[since:]:
            if rec["name"] != name or rec["end"] is None:
                continue
            if top_level and self._has_ancestor(rec, name):
                continue
            out += rec["end"] - rec["start"]
        return out

    def count(self, name: str, since: int = 0, top_level: bool = True) -> int:
        return sum(1 for rec in self.spans[since:] if rec["name"] == name
                   and not (top_level and self._has_ancestor(rec, name)))

    def _has_ancestor(self, rec: dict, name: str) -> bool:
        parent = rec["parent"]
        while parent is not None:
            if self.spans[parent]["name"] == name:
                return True
            parent = self.spans[parent]["parent"]
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- Spark status store ------------------------------------------------------

_SCALE = {"": 1.0, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}
_VALUE = re.compile(r"\s*(-?[\d.,]+)\s*([A-Za-z]*)")


def metric_value(text: str) -> float:
    """A SQL-tab metric string as a number in base units (s, bytes,
    rows). Timing and size metrics read 'total (min, med, max ...)\\n
    <total> (<min>, ...)'; plain sums read '1,234'."""
    m = _VALUE.match(text.split("\n")[-1])
    if m is None:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


def _top_level_calls(args: str) -> list[str]:
    """Function names at bracket depth 0 of 'f(a, g(b))#1L, h(c)#2L'."""
    names, depth, start = [], 0, 0
    for i, ch in enumerate(args):
        if ch == "(":
            if depth == 0:
                names.append(re.findall(r"\w*$", args[start:i])[0])
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                start = i + 1
    return names


def arrow_eval_udfs(plan_description: str) -> tuple[list[list[str]], set[str]]:
    """UDF names of each ArrowEvalPython node of the final physical plan,
    in tree pre-order (the order the REST node ids follow), and the set
    of UDF names over every ArrowEvalPython node the description lists.

    The 'formatted' plan prints the tree with operator ids, then one
    detail block per id whose 'Arguments:' line starts with the UDF
    calls. Initial-plan subtrees of adaptive plans are skipped."""
    tree, _, details = plan_description.partition("\n\n")
    order, skip_from = [], None
    for line in tree.splitlines():
        indent = len(line) - len(line.lstrip(" +-:|*"))
        if skip_from is not None:
            if indent >= skip_from:
                continue
            skip_from = None
        if "== Initial Plan ==" in line:
            skip_from = line.index("==")
            continue
        m = re.search(r"ArrowEvalPython \((\d+)\)", line)
        if m:
            order.append(m.group(1))
    udfs = {}
    for block in details.split("\n\n"):
        m = re.match(r"\((\d+)\) ArrowEvalPython", block.strip())
        args = re.search(r"Arguments: \[(.*)\], \[", block)
        if m and args:
            udfs[m.group(1)] = _top_level_calls(args.group(1))
    every = {name for names in udfs.values() for name in names}
    return [udfs.get(op_id, []) for op_id in order], every


class SparkMetrics:
    """Reads finished SQL executions and stages of this application."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        port = self.sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{self.sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def _drain(self) -> None:
        # the status store is fed asynchronously from the listener bus;
        # wait until every event of the finished actions has landed
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(executions seen, highest stage id) before an action."""
        self._drain()
        execs = self._get("/sql?details=false&length=100000")
        stages = self._get("/stages")
        return (len(execs), max((s["stageId"] for s in stages), default=-1))

    def since(self, mark: tuple[int, int]) -> dict:
        """Executions and stages finished after `mark`.

        Returns {"nodes": [(udf names or None, node name, {metric: value})],
        "stages": [stage dicts]} over all new executions. Each
        ArrowEvalPython node carries the UDFs it evaluates."""
        self._drain()
        n_exec, max_stage = mark
        execs = self._get(f"/sql?details=true&planDescription=true"
                          f"&offset={n_exec}&length=100000")
        nodes = []
        for ex in execs:
            udfs, every = arrow_eval_udfs(ex.get("planDescription", ""))
            arrow = sorted((n for n in ex["nodes"]
                            if n["nodeName"] == "ArrowEvalPython"),
                           key=lambda n: n["nodeId"])
            if len(arrow) == len(udfs):
                names = {n["nodeId"]: u for n, u in zip(arrow, udfs)}
            elif len(every) == 1:
                # the adaptive plan was replaced after its Python stages ran
                # (e.g. by an empty relation); one UDF only, so no ambiguity
                names = {n["nodeId"]: sorted(every) for n in arrow}
            else:
                names = {}
            for n in ex["nodes"]:
                vals = {}
                for m in n["metrics"]:
                    try:
                        vals[m["name"]] = metric_value(m["value"])
                    except (ValueError, KeyError):
                        continue
                nodes.append((names.get(n["nodeId"]), n["nodeName"], vals))
        stages = [s for s in self._get("/stages?status=complete")
                  if s["stageId"] > max_stage]
        return {"nodes": nodes, "stages": stages}


def node_sum(nodes, node_name: str, metric: str, udf: str | None = None) -> float:
    """Sum of `metric` over nodes named `node_name` (and, for
    ArrowEvalPython, evaluating `udf`)."""
    return sum(vals.get(metric, 0.0) for udfs, name, vals in nodes
               if name == node_name and (udf is None or udf in (udfs or ())))


def node_count(nodes, node_name: str) -> int:
    return sum(1 for _u, name, _v in nodes if name == node_name)


def stage_sum(stages, field: str) -> float:
    return float(sum(s.get(field, 0) for s in stages))
