"""Helpers that only the tests use: physical-plan inspection, a
local-file Unity export client and a WebDataset shard reader. No module
under ``ua2sql_spark/`` imports this one
(``tests/test_catalog.py::test_engine_imports_no_test_helper``).
"""

from __future__ import annotations

import io
import os
import re
import shutil
import tarfile
from collections.abc import Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame


# ---------------------------------------------------------------------------
# Physical-plan inspection: scale assertions as code. These turn "did the
# filter push down / did the dim broadcast / how many shuffles" into
# predicates, so a regression that, say, turns a broadcast join into a
# sort-merge join fails a test rather than surfacing as a 100x slowdown on
# a cluster.
# ---------------------------------------------------------------------------
def _explain(df: DataFrame, mode: str) -> str:
    jvm = df.sparkSession._jvm
    jmode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def formatted_plan(df: DataFrame) -> str:
    return _explain(df, "formatted")


def simple_plan(df: DataFrame) -> str:
    return _explain(df, "simple")


def pushed_filters(df: DataFrame) -> list[str]:
    """One entry per scan: that scan's full PushedFilters payload.

    Deliberately LINE-scoped and unsplit: plans truncate long filter
    lists at spark.sql.maxMetadataStringLength with '...' and no
    closing bracket, so a cross-line regex would swallow unrelated
    plan text, and a naive comma split would shatter compound
    predicates like LessThan(a,10) into garbage fragments. Callers
    assert substring membership ("col" in f), which the whole-payload
    form serves exactly."""
    plan = formatted_plan(df)
    out: list[str] = []
    for line in plan.splitlines():
        m = re.search(r"PushedFilters: \[([^\]]*)", line)
        if m and m.group(1).strip():
            out.append(m.group(1).strip().rstrip("]"))
    return out


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges (shuffles) in the physical plan."""
    return len(re.findall(r"\bExchange\b(?! SinglePartition)", simple_plan(df)))


def broadcast_join_count(df: DataFrame) -> int:
    return simple_plan(df).count("BroadcastHashJoin")


def sortmerge_join_count(df: DataFrame) -> int:
    return simple_plan(df).count("SortMergeJoin")


def wholestage_codegen_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen spans — wider/fewer is better.
    (Only meaningful on final plans: under AQE, inspect after execution
    or with AQE disabled.)"""
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", _explain(df, "codegen"))
    if m:
        return int(m.group(1))
    return len(set(re.findall(r"\*\((\d+)\)", simple_plan(df))))


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema column lists of every scan (column-pruning check)."""
    plan = formatted_plan(df)
    return re.findall(r"ReadSchema: (\S+)", plan)


# ---------------------------------------------------------------------------
# HOF / Generate re-evaluation tripwire (VERDICT r8 #2). The engine's
# most-repeated defect class: Catalyst inlines a referenced outer
# expression into a higher-order-function lambda body (HOFs run
# interpreted, once PER ELEMENT — a 99-edge filter re-ran
# split/array_distinct 99x per row, bench 0.44s -> 11.13s), and
# CollapseProject merges an expensive expression into the same
# projection as an explode, re-evaluating it per generated row (the
# pre-d6e803c x188, 10x). Both defects are visible in the OPTIMIZED
# plan text: the expensive call appears inside a lambdafunction(...)
# span, or is duplicated several times within a single plan node that
# also generates/iterates. These helpers turn that signature into a
# sweepable predicate.
# ---------------------------------------------------------------------------

# Corpus-scale string/array producers: costly enough that evaluating
# them more than once per row is a plan defect, and never legitimately
# recomputed inside a per-element lambda (a lambda's own variable is
# fine — these all take a COLUMN argument, which inlining rewrites to
# the full producing expression).
_EXPENSIVE_CALLS = (
    "split(",
    "array_distinct(",
    "regexp_extract(",
    "regexp_extract_all(",
    "regexp_replace(",
    "sentences(",
    "array_sort(",
)


def optimized_plan(df: DataFrame) -> str:
    """Optimized LOGICAL plan text — where lambda inlining and project
    collapse have already happened but nodes are still 1:1 with the
    declared operators."""
    return df._jdf.queryExecution().optimizedPlan().toString()


def lambda_bodies(plan: str) -> list[str]:
    """Every balanced ``lambdafunction(...)`` span in a plan string.
    The span STARTS at the lambda body, so a HOF's input expression
    (e.g. the ``split(text)`` feeding ``filter``) is outside it — only
    expressions inlined INTO the per-element body are caught."""
    out = []
    i = 0
    while True:
        j = plan.find("lambdafunction(", i)
        if j == -1:
            return out
        k = j + len("lambdafunction(")
        depth = 1
        while k < len(plan) and depth:
            if plan[k] == "(":
                depth += 1
            elif plan[k] == ")":
                depth -= 1
            k += 1
        out.append(plan[j:k])
        i = j + len("lambdafunction(")


# For the Project-above-Generate rule, HOF invocations themselves are
# also non-trivial: an O(len) array traversal recomputed per exploded
# row is the measured 10x (pre-fix x188's transform/array_distinct).
_GENERATE_HEAVY_CALLS = _EXPENSIVE_CALLS + ("transform(", "aggregate(")


def _call_spans(line: str, call: str) -> list[str]:
    """Balanced-paren argument spans of every ``call`` occurrence."""
    out = []
    i = 0
    while True:
        j = line.find(call, i)
        if j == -1:
            return out
        k = j + len(call)
        depth = 1
        while k < len(line) and depth:
            if line[k] == "(":
                depth += 1
            elif line[k] == ")":
                depth -= 1
            k += 1
        out.append(line[j:k])
        i = j + len(call)


def _balanced_end(text: str, start: int) -> int:
    """Index one past the closing paren matching the one at
    ``text[start-1]`` (caller positions ``start`` just inside)."""
    depth = 1
    k = start
    while k < len(text) and depth:
        if text[k] == "(":
            depth += 1
        elif text[k] == ")":
            depth -= 1
        k += 1
    return k


def _strip_let_bindings(plan: str) -> str:
    """Unwrap single-element ``transform(array(X), lambdafunction(BODY,
    ...))`` spans — the ``functions.arrays.let`` binding — into
    ``X ... BODY`` so the body is scanned as per-ROW context. A
    transform over a ONE-element array runs its lambda once per row by
    construction, so an expensive call there is not a re-evaluation
    hazard; nested lambdas inside BODY keep their own spans and are
    still scanned. Multi-element array literals (a real per-element
    HOF) are left intact."""
    out = plan
    pos = 0
    while True:
        j = out.find("transform(array(", pos)
        if j == -1:
            return out
        arr_start = j + len("transform(array(")
        arr_end = _balanced_end(out, arr_start)  # one past array's ')'
        arr_args = out[arr_start : arr_end - 1]
        # single element iff no top-level comma inside array(...)
        depth = 0
        multi = False
        for ch in arr_args:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                multi = True
                break
        rest = out[arr_end:]
        if multi or not rest.startswith(", lambdafunction("):
            pos = j + 1
            continue
        lam_start = arr_end + len(", lambdafunction(")
        lam_end = _balanced_end(out, lam_start)  # one past lambda's ')'
        tr_end = _balanced_end(out, j + len("transform("))
        if lam_end != tr_end - 1:  # transform has extra args; not a let
            pos = j + 1
            continue
        body = out[lam_start : lam_end - 1]
        out = out[:j] + "(" + arr_args + " LETBODY " + body + ")" + out[tr_end:]
        pos = j


def reeval_hazards(df: DataFrame) -> list[str]:
    """Findings for the two re-evaluation signatures; empty = clean.

    1. An expensive call inside ANY lambda body: the optimizer inlined
       the producing expression, so it re-executes per array ELEMENT,
       interpreted (the r8 x155 shape — a 99-edge filter re-ran
       split/array_distinct 99x per row). A HOF's own input expression
       (outside the lambda body) is fine: evaluated once per row.

    2. A Project sitting DIRECTLY ABOVE a Generate whose expressions
       contain heavy calls over PRE-explode columns: whole-stage
       codegen evaluates deferred child expressions where consumed —
       once per generated row (the pre-d6e803c x188 shape, measured
       10x). Heavy work over the GENERATED attribute itself is
       legitimate per-element processing and is not flagged.
    """
    plan = _strip_let_bindings(optimized_plan(df))
    finds = []
    for body in lambda_bodies(plan):
        for call in _EXPENSIVE_CALLS:
            if call in body:
                finds.append(
                    f"lambda body re-evaluates {call.rstrip('(')} per element"
                )
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        pj = line.find("Project [")
        if pj == -1 or i + 1 >= len(lines):
            continue
        child = lines[i + 1]
        gj = child.find("Generate ")
        # direct child in the tree print: operator starts 3 cols deeper
        if gj == -1 or gj != pj + 3:
            continue
        gen_outs = re.findall(r"(\w+#\d+)", child[child.rfind("["):])
        for call in _GENERATE_HEAVY_CALLS:
            for span in _call_spans(line, call):
                if not any(a in span for a in gen_outs):
                    finds.append(
                        f"{call.rstrip('(')} over pre-explode columns in a "
                        "Project above Generate (re-evaluated per generated row)"
                    )
    return finds


# ---------------------------------------------------------------------------
# Unity export client over pre-staged local files
# (``ua2sql_spark.sources.ingest.ExportClient``).
# ---------------------------------------------------------------------------
@dataclass
class LocalFileExportClient:
    """Test/offline double: 'exports' are pre-staged local files keyed by
    (feed, job index). Deterministic job ids: '<feed>-<n>'."""

    exports: dict[str, list[list[str]]]  # feed -> runs -> file paths

    def request_export(self, feed, start_date, continue_from):
        runs = self.exports.get(feed, [])
        nxt = 0 if continue_from is None else int(continue_from.rsplit("-", 1)[1]) + 1
        if nxt >= len(runs):
            return None  # nothing new to export
        return f"{feed}-{nxt}"

    def is_complete(self, job_id):
        return True

    def download_results(self, job_id, staging_dir):
        feed, n = job_id.rsplit("-", 1)
        out = []
        for src in self.exports[feed][int(n)]:
            dst = os.path.join(staging_dir, os.path.basename(src))
            shutil.copyfile(src, dst)
            out.append(dst)
        return out


# ---------------------------------------------------------------------------
# WebDataset loader: reads back what ``corpus_export.write_webdataset`` writes.
# ---------------------------------------------------------------------------
def read_webdataset(spark, in_dir: str) -> DataFrame:
    """Load WebDataset tar shards back into (key, text, payload) rows —
    the loader side of ``corpus_export.write_webdataset``.

    ``binaryFile`` distributes whole shards to tasks (a tar is a
    sequential format, so shard == work unit, same as a training
    loader); each task untars in memory via Arrow-batched mapInPandas.
    Scale note: shards are sized ~1 GB by the writer, well inside
    executor memory; sample members are grouped by basename per the
    WebDataset convention."""
    files = spark.read.format("binaryFile").load(in_dir + "/*.tar")

    def untar(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tar:
                    samples: dict[str, dict] = {}
                    for m in tar.getmembers():
                        key, ext = m.name.rsplit(".", 1)
                        samples.setdefault(key, {})[ext] = tar.extractfile(m).read()
                    for key, members in samples.items():
                        rows.append(
                            (
                                key,
                                members.get("txt", b"").decode("utf-8"),
                                members.get("bin"),
                            )
                        )
            yield pd.DataFrame(rows, columns=["key", "text", "payload"])

    return files.select("content").mapInPandas(
        untar, schema="key string, text string, payload binary"
    )
