"""The commit protocol lives in plans/checkpoint.py alone.

Every table write is one ``Commit`` of its root's log; the steps behind
it (the log's entry create and replay, the data-file writes and the
reaping of replaced files) are private to that module. So are the names
of the mechanisms the log replaced (the tmp-dir, swap and staged append
steps, and pyarrow's ``write_metadata`` layout footer) and of the
path-keyed layout lookups that each re-read a log (``table_record``,
``table_buckets``: an operation reads its ``Commit``'s base instead): a
program file that names one of them — as a call, an attribute or an
import — brings back per-module commit choreography, and fails this
test. So does a raw
filesystem mutator (rename, replace, remove, unlink, link, rmtree,
move) anywhere else, except at the listed scratch sites that hold no
table. A DataFrame ``.write``
or ``.writeStream`` anywhere else must be one of the listed sites,
each with the reason it writes no table.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

from test_dead_plans import ROOT, _program_files

CHECKPOINT = ROOT / "open_semantic_etl_spark" / "plans" / "checkpoint.py"
PROTOCOL = {
    "swap_buckets", "tmp_path", "swap_table", "atomic_overwrite",
    "record_layout", "write_metadata", "commit_append", "move",
    "create_entry", "replay", "write_files", "reap",
    "table_record", "table_buckets",
}
MUTATORS = {
    "os": {"rename", "replace", "remove", "unlink", "link"},
    "shutil": {"rmtree", "move"},
}
# non-table scratch: the driver queries' atexit tmp index dir, the OCR
# stage's tempfile, bench.py's stale output file
SCRATCH_SITES = Counter({
    "open_semantic_etl_spark/plans/queries.py:shutil.rmtree": 1,
    "open_semantic_etl_spark/operators/ocr.py:os.unlink": 1,
    "bench.py:os.unlink": 1,
})

# DataFrame writes outside the commit protocol, none of them into an
# enriched, checkpoint or LSH index table:
# - sinks.py: export_json's output dir, an export the caller owns;
# - ocr.py: the OCR memo, an append-only cache of OCR text by image
#   hash that holds no document row (a lost append re-runs its images);
# - queries.py: the driver queries' ANN encoded sidecar, a per-process
#   tmp dir rewritten whole until its _SUCCESS marker exists;
# - monitor.py writeStream: the stream's foreachBatch sink, whose
#   commits are run_incremental's, dedup_ingest_batch's and the
#   keep-set's (a Commit of the ``kept/`` root);
# - bench.py and tools/explain_audit.py: their generated input pages
#   (and the audit's seeded OCR memo) under /tmp, and bench.py's two
#   noop-format timing writes, which write no file.
WRITE_SITES = Counter({
    "open_semantic_etl_spark/sinks.py:write": 1,
    "open_semantic_etl_spark/operators/ocr.py:write": 1,
    "open_semantic_etl_spark/plans/queries.py:write": 1,
    "open_semantic_etl_spark/streaming/monitor.py:writeStream": 1,
    "bench.py:write": 3,
    "tools/explain_audit.py:write": 2,
})


def _protocol_names(path: Path) -> set[str]:
    """protocol step names (with or without leading underscores) that
    ``path`` uses as a Name, an Attribute or an import."""
    out = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            name = node.attr
        elif isinstance(node, ast.alias):
            name = node.name
        else:
            continue
        if name.lstrip("_") in PROTOCOL:
            out.add(name)
    return out


def _mutators(path: Path) -> list[str]:
    """``module.name`` of each raw filesystem mutator ``path`` uses, as
    an attribute (``os.rename``, called or passed) or an import."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            module, names = node.value.id, [node.attr]
        elif isinstance(node, ast.ImportFrom):
            module, names = node.module, [a.name for a in node.names]
        else:
            continue
        out += [f"{module}.{n}" for n in names if n in MUTATORS.get(module, ())]
    return out


def test_commit_protocol_stays_in_checkpoint():
    leaks = sorted(
        f"{path.relative_to(ROOT)}:{name}"
        for path in _program_files()
        if path != CHECKPOINT
        for name in _protocol_names(path)
    )
    assert not leaks, f"commit protocol used outside plans/checkpoint.py: {leaks}"
    # the guard is live: the steps it looks for exist in checkpoint.py
    assert {"_create_entry", "_replay", "_write_files", "_reap"} <= _protocol_names(CHECKPOINT)
    # the path-keyed lookups are gone from checkpoint.py as well
    assert not {"table_record", "table_buckets"} & _protocol_names(CHECKPOINT)


def test_raw_mutators_stay_in_checkpoint():
    sites = Counter(
        f"{path.relative_to(ROOT)}:{name}"
        for path in _program_files()
        if path != CHECKPOINT
        for name in _mutators(path)
    )
    leaks = sorted((sites - SCRATCH_SITES).elements())
    assert not leaks, f"raw filesystem mutator outside plans/checkpoint.py: {leaks}"
    # the guard is live: it sees checkpoint.py's own mutators and every
    # allowlisted scratch site
    assert {"os.link", "os.rename", "os.remove", "shutil.rmtree"} <= set(_mutators(CHECKPOINT))
    assert sites & SCRATCH_SITES == SCRATCH_SITES


def _df_writes(path: Path) -> list[str]:
    """each ``.write`` / ``.writeStream`` attribute ``path`` uses that is
    not itself called (a DataFrame's writer, not ``f.write(b"...")``)."""
    tree = ast.parse(path.read_text())
    called = {id(node.func) for node in ast.walk(tree) if isinstance(node, ast.Call)}
    return [
        node.attr
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and node.attr in ("write", "writeStream")
        and id(node) not in called
    ]


def test_dataframe_writes_stay_in_checkpoint():
    sites = Counter(
        f"{path.relative_to(ROOT)}:{name}"
        for path in _program_files()
        if path != CHECKPOINT
        for name in _df_writes(path)
    )
    leaks = sorted((sites - WRITE_SITES).elements())
    assert not leaks, f"DataFrame write outside plans/checkpoint.py: {leaks}"
    # the guard is live: it sees checkpoint.py's own writes and every
    # allowlisted site
    assert "write" in _df_writes(CHECKPOINT)
    assert sites & WRITE_SITES == WRITE_SITES
