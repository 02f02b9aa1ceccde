"""operators/logfold: the one session-free commit-log fold behind
TxLogTable, the Delta reader and the ``txlog`` DataSource."""

from __future__ import annotations

import ast
import json
import os
import sys

from airbnb_listings_data_pipelines_spark.operators import logfold
from airbnb_listings_data_pipelines_spark.operators import txlog as txmod
from airbnb_listings_data_pipelines_spark.operators.txlog import TxLogTable


def _data_files(path: str) -> set[str]:
    out = set()
    for root, dirs, fs in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in fs:
            if f.endswith(".parquet"):
                out.add(os.path.relpath(os.path.join(root, f), path))
    return out


def test_txlog_fold_across_checkpoint(spark, tmp_path, monkeypatch):
    """Live files, schema and per-commit deltas of every version, with
    checkpoint commits (full live lists) inside the folded range. The
    expected live sets come from the data files each commit wrote, not
    from the log."""
    monkeypatch.setattr(txmod, "_CHECKPOINT_EVERY", 3)
    path = str(tmp_path / "t")
    t = TxLogTable.create(
        spark,
        path,
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, price double")
        .coalesce(1),
    )
    live = [_data_files(path)]
    written = {}
    for i in range(3, 8):
        before = _data_files(path)
        t.append(spark.createDataFrame([(i, float(i))], "k int, price double"))
        written[i] = _data_files(path) - before
        live.append(live[-1] | written[i])
    before = _data_files(path)
    t.delete_where("k = 4")  # drops the one-row file appended for k=4
    live.append((live[-1] - written[4]) | (_data_files(path) - before))
    log = t.log_dir
    ckpts = []
    for v in range(len(live)):
        with open(os.path.join(log, f"{v:012d}.json")) as fh:
            if json.load(fh).get("checkpoint"):
                ckpts.append(v)
    assert ckpts == [0, 3, 6]

    for v, files in enumerate(live):
        assert logfold.replay_log(log, v) == (v, sorted(files))
        schema, mapping = logfold.schema_and_mapping_at(log, v)
        assert [(f["name"], f["type"]) for f in json.loads(schema)["fields"]] == [
            ("k", "integer"),
            ("price", "double"),
        ]
        assert mapping is None
    assert logfold.replay_log(log) == (6, sorted(live[6]))

    ops = ["create"] + ["append"] * 5 + ["delete"]
    want = [
        (
            v,
            sorted(live[v] - (live[v - 1] if v else set())),
            sorted((live[v - 1] if v else set()) - live[v]),
            ops[v],
        )
        for v in range(len(live))
    ]
    got = [
        (r["v"], r["adds"], r["removes"], r["op"])
        for r in logfold.commit_deltas_full(log, 0, 6)
    ]
    assert got == want
    # a range starting above a checkpoint bootstraps from it
    got = [
        (r["v"], r["adds"], r["removes"], r["op"])
        for r in logfold.commit_deltas_full(log, 4, 6)
    ]
    assert got == want[4:]


def test_logfold_imports_only_stdlib_pyarrow_pyspark():
    """The streaming planner runner cannot import this package, so the
    module shipped to it by value must not import it either."""
    with open(logfold.__file__) as fh:
        tree = ast.parse(fh.read())
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                bad.append("." * node.level + (node.module or ""))
                continue
            names = [node.module]
        else:
            continue
        for name in names:
            top = name.split(".")[0]
            if top not in sys.stdlib_module_names and top not in (
                "pyarrow",
                "pyspark",
            ):
                bad.append(name)
    assert bad == []
