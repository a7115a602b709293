"""The versioned-log core shared by the txn manifest log and the index
pointer log: behaviour both logs must show identically."""

from __future__ import annotations

import json
import os

import pytest


def _txn_log(root):
    from etl_hiscox_spark.sources.txnlog import TxnTable

    t = TxnTable(None, root)
    for v in range(6):
        t._commit(v, {"version": v, "mode": "append", "files": [], "schema": "{}"})
    return "_txn_log", t.latest_version, lambda: t.last_head_resolution


def _gen_log(root):
    from etl_hiscox_spark.sources import genlog

    for v in range(6):
        genlog.commit_generation(None, root, f"gen-{v}", "append", v - 1 if v else None)
    return (
        "_gen_log",
        lambda: genlog.latest_pointer_version(None, root),
        lambda: genlog.last_head_resolution,
    )


@pytest.mark.parametrize("make_log", [_txn_log, _gen_log], ids=["txnlog", "genlog"])
def test_head_ignores_hint_past_the_head(tmp_path, make_log):
    """A ``_last_checkpoint`` naming a version that does not exist (here
    v20 over a v0..v5 log — a hint left by a wiped-and-rebuilt root) must
    not be trusted: the head read checks that the hinted record exists
    and falls back to the LIST, for both logs."""
    local = str(tmp_path / "log")
    log_name, head, resolution = make_log("file://" + local)
    with open(os.path.join(local, log_name, "_last_checkpoint"), "w") as f:
        json.dump({"version": 20}, f)
    assert head() == 5
    assert resolution()["mode"] == "list"
