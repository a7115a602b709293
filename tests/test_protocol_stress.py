"""Randomized multi-actor stress for the generation-pointer protocol
(r14, VERDICT r13 item 3: every documented race had a deterministic
two-actor test, but protocol bugs that survive pairwise tests are
exactly the interleaving kind — run append + compact + erase + vacuum
concurrently over many rounds on one root and check invariants at
quiescence).

Two tiers, fixed seeds (repeatable):

- ``test_pointer_protocol_multiactor_stress`` — the pure pointer
  protocol, no Spark: N threads fire hundreds of randomized
  append/compact/erase/rebuild/vacuum ops at one ``file://`` root through the
  REAL genlog entry points (``append_segment``,
  ``rerun_on_generation_conflict`` + ``commit_generation``,
  ``vacuum_generations``), with commits crossing checkpoint boundaries.
- ``test_minhash_multiactor_stress`` — the real index ops through
  Spark: concurrent appender / eraser / compactor on one minhash root,
  final membership checked by probe.

Quiescence invariants (the protocol's whole contract):
1. surviving pointer versions are DENSE and end at the head;
2. head == total successful commits - 1 (versions are never reused;
   vacuum only trims the prefix);
3. every consecutive surviving transition is a LEGAL op (append extends
   the parent's segment list by exactly one; compact/erase replace it);
4. a segment dropped by an erase never resurfaces in a later record;
5. every live segment directory exists on disk (vacuum never reclaimed
   a live segment);
6. the head resolves cleanly through ``current_generation``.
"""

from __future__ import annotations

import os
import random
import threading

import pytest
from pyspark.sql import functions as F


def _stage_fake_segment(local_root: str, name: str) -> None:
    d = os.path.join(local_root, name)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.bin"), "wb") as f:
        f.write(b"segment-data")


@pytest.mark.parametrize("seed", [101, 202, 303])
def test_pointer_protocol_multiactor_stress(tmp_path, seed):
    from etl_hiscox_spark.sources import genlog

    local = str(tmp_path / "stress")
    root = "file://" + local
    os.makedirs(local, exist_ok=True)
    gid = genlog.new_geometry_id()
    _stage_fake_segment(local, "gen-build")
    genlog.commit_generation(None, root, "gen-build", "build", None, geometry_id=gid)

    n_actors, ops_per_actor = 4, 20
    commits_lock = threading.Lock()
    commits: list[tuple[int, str]] = [(0, "build")]  # (version, op)
    errors: list[BaseException] = []

    def record(version: int, op: str) -> None:
        with commits_lock:
            commits.append((version, op))

    def actor(idx: int) -> None:
        rng = random.Random(seed * 1000 + idx)
        try:
            for i in range(ops_per_actor):
                op = rng.choice(
                    ["append", "append", "append", "compact", "erase",
                     "rebuild", "vacuum"]
                )
                if op == "append":
                    name = f"gen-a{idx}x{i}"
                    _stage_fake_segment(local, name)
                    record(
                        genlog.append_segment(None, root, name, attempts=60),
                        "append",
                    )
                elif op == "compact":
                    def do_compact():
                        base, _ = genlog.current_generation(None, root)
                        rec = genlog.read_pointer(root, base)
                        name = f"gen-c{idx}x{i}"
                        _stage_fake_segment(local, name)
                        return genlog.commit_generation(
                            None, root, name, "compact", base,
                            segments=[name], geometry_id=rec.get("geometry_id"),
                            txn_watermarks=rec.get("txn_watermarks"),
                        )

                    record(
                        genlog.rerun_on_generation_conflict(do_compact, attempts=60),
                        "compact",
                    )
                elif op == "rebuild":
                    def do_rebuild():
                        base, _ = genlog.current_generation(None, root)
                        name = f"gen-r{idx}x{i}"
                        _stage_fake_segment(local, name)
                        # a rebuild MINTS a fresh geometry epoch — the one
                        # commit kind whose geometry_id must change
                        return genlog.commit_generation(
                            None, root, name, "rebuild", base,
                            segments=[name],
                            geometry_id=genlog.new_geometry_id(),
                        )

                    record(
                        genlog.rerun_on_generation_conflict(do_rebuild, attempts=60),
                        "rebuild",
                    )
                elif op == "erase":
                    def do_erase():
                        base, _ = genlog.current_generation(None, root)
                        rec = genlog.read_pointer(root, base)
                        segs = genlog.pointer_segments(rec)
                        if len(segs) < 2:
                            return None  # nothing selectively erasable
                        kept = segs[:-1]
                        return genlog.commit_generation(
                            None, root, kept[0], "erase", base,
                            segments=kept, geometry_id=rec.get("geometry_id"),
                            txn_watermarks=rec.get("txn_watermarks"),
                        )

                    v = genlog.rerun_on_generation_conflict(do_erase, attempts=60)
                    if v is not None:
                        record(v, "erase")
                else:
                    # min_age >> test duration: in-flight stages and
                    # concurrently-committed generations this vacuum's
                    # LIST missed are age-protected (the documented
                    # contract — pass 0 only at quiescence)
                    genlog.vacuum_generations(
                        None, root, keep_last=3, min_age_seconds=600.0
                    )
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=actor, args=(i,)) for i in range(n_actors)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, f"actor crashed: {errors[:3]}"

    # -- invariants at quiescence ------------------------------------------
    head, _gen = genlog.current_generation(None, root)  # (6) resolves
    surviving = genlog._pointer_log(root).versions()
    assert surviving == list(range(surviving[0], head + 1))  # (1) dense
    assert head == len(commits) - 1  # (2) every success has its version
    records = {v: genlog.read_pointer(root, v) for v in surviving}
    for v in surviving[1:]:
        if v - 1 not in records:
            continue
        parent = genlog.pointer_segments(records[v - 1])
        child = genlog.pointer_segments(records[v])
        op = records[v]["operation"]
        if op == "append":  # (3) extends by exactly one fresh segment
            assert child[:-1] == parent and child[-1] not in parent
        elif op in ("compact", "rebuild"):
            assert len(child) == 1 and child[0] not in parent
        elif op == "erase":
            assert child == parent[:-1]
        else:
            raise AssertionError(f"illegal operation {op!r} at v{v}")
        # geometry epoch: minted ONLY by rebuild, carried verbatim by
        # every other commit kind (the GeometryChanged detection contract)
        if op == "rebuild":
            assert records[v]["geometry_id"] != records[v - 1]["geometry_id"]
        else:
            assert records[v]["geometry_id"] == records[v - 1]["geometry_id"]
    # (4) dropped segments never resurface past their drop
    erase_versions = {v for v in surviving if records[v]["operation"] == "erase"}
    for ev in erase_versions:
        gone = set(genlog.pointer_segments(records[ev - 1])) - set(
            genlog.pointer_segments(records[ev])
        ) if ev - 1 in records else set()
        for later in surviving:
            if later > ev:
                assert not (gone & set(genlog.pointer_segments(records[later])))
    live = genlog.live_index_paths(None, root)  # (5) all live dirs exist
    for seg_path in live:
        p = seg_path[len("file://"):]
        assert os.path.isdir(p) and os.listdir(p), f"live segment missing: {p}"


def test_minhash_multiactor_stress(spark, tmp_path):
    """The real index ops through Spark, concurrently: an appender lands
    two delta batches, an eraser forgets two BUILD docs, a compactor
    compacts twice — all racing on one root through the OCC wrappers.
    Final membership is deterministic regardless of interleaving (erase
    targets only build docs, appends carry only new docs): probes must
    answer for surviving build + appended docs and never for the erased."""
    from etl_hiscox_spark.operators.dedup import (
        _read_index_meta,
        compact_minhash_index,
        erase_from_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.sources import genlog

    rows = [
        (i, f"shared filler text body number {i} common tokens run")
        for i in range(80)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    root = "file://" + str(tmp_path / "mh")
    write_minhash_index(docs.filter("doc_id < 40"), "text", "doc_id", root)
    errors: list[BaseException] = []

    def run(fn):
        try:
            fn()
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    def appender():
        for lo, hi in ((40, 60), (60, 80)):
            write_minhash_index(
                docs.filter(f"doc_id >= {lo} and doc_id < {hi}"),
                "text", "doc_id", root, mode="append",
            )

    def eraser():
        for key in (3, 7):
            genlog.rerun_on_generation_conflict(
                erase_from_minhash_index, spark, root,
                spark.createDataFrame([(key,)], "doc_id long"), "doc_id",
                attempts=30,
            )

    def compactor():
        for _ in range(2):
            genlog.rerun_on_generation_conflict(
                compact_minhash_index, spark, root, attempts=30
            )

    threads = [
        threading.Thread(target=run, args=(fn,))
        for fn in (appender, eraser, compactor)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, f"actor crashed: {errors[:3]}"

    ops = {g["operation"] for g in genlog.list_generations(spark, root)}
    assert ops <= {"build", "append", "erase", "compact"}
    assert _read_index_meta(spark, root)[:2] == (24, 6)  # banding stable

    def hits(doc_id: int) -> bool:
        probe = spark.createDataFrame(
            [(9000, f"shared filler text body number {doc_id} common tokens run")],
            "doc_id long, text string",
        )
        out = probe_minhash_index(probe, "text", "doc_id", root)
        return doc_id in {r["dup_of"] for r in out.collect()}

    for erased in (3, 7):
        assert not hits(erased), f"erased doc {erased} resurfaced"
    for present in (23, 45, 67):
        assert hits(present), f"doc {present} lost in the race"


def test_txn_multiactor_stress(spark, tmp_path):
    """The txn manifest log under the same treatment as the genlog:
    concurrent APPENDERS (the OCC commit loop), a COMPACTOR (snapshot-
    pinned OPTIMIZE that must conflict loudly, never drop an append),
    and TWO retention actors racing expire_versions + vacuum on one
    table. At quiescence the head must read EXACTLY the union of every
    appended slice (no loss, no duplication), surviving history must be
    readable, and the double-deletion races inside expire/vacuum must
    be absorbed, not crash."""
    import time

    from etl_hiscox_spark.sources.txnlog import TxnTable

    root = str(tmp_path / "txn")
    TxnTable(spark, root).write(
        spark.range(0, 10).selectExpr("id", "id * 2 AS v"), mode="overwrite"
    )
    errors: list[BaseException] = []

    def run(fn):
        try:
            fn()
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    def appender(k):
        def go():
            t = TxnTable(spark, root)  # one handle per writer, like real jobs
            for j in range(3):
                lo = 1000 * k + 10 * j
                t.write(
                    spark.range(lo, lo + 10).selectExpr("id", "id * 2 AS v"),
                    mode="append",
                )
        return go

    def maintainer():
        t = TxnTable(spark, root)
        for _ in range(2):
            try:
                t.compact(target_file_mb=1)
            except RuntimeError as exc:
                if "conflict" not in str(exc):
                    raise  # only the documented snapshot conflict is expected
            t.expire_versions(keep_last=3)
            t.vacuum(min_age_seconds=600.0)

    threads = [
        threading.Thread(target=run, args=(fn,))
        for fn in (appender(1), appender(2), maintainer, maintainer)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, f"actor crashed: {errors[:3]}"

    t = TxnTable(spark, root)
    got = sorted(r["id"] for r in t.read().select("id").collect())
    want = sorted(
        list(range(0, 10))
        + [i for k in (1, 2) for j in range(3) for i in range(1000 * k + 10 * j, 1000 * k + 10 * j + 10)]
    )
    assert got == want  # every append survived compaction + retention, once
    for m in t.history():
        assert m["files"]  # surviving manifests all readable and non-empty

    # racing retention over an OLD orphan: both vacuums see the same
    # unreferenced file; exactly one reclaims it, the other absorbs the
    # missing-file delete instead of crashing
    orphan_dir = os.path.join(root, "data", "batch-orphan")
    os.makedirs(orphan_dir, exist_ok=True)
    orphan = os.path.join(orphan_dir, "part-0.parquet")
    with open(orphan, "wb") as f:
        f.write(b"orphan")
    old = time.time() - 7200
    os.utime(orphan, (old, old))
    vacuum_errors: list[BaseException] = []

    def racer():
        try:
            TxnTable(spark, root).vacuum(min_age_seconds=600.0)
        except BaseException as exc:  # noqa: BLE001
            vacuum_errors.append(exc)

    rts = [threading.Thread(target=racer) for _ in range(2)]
    for r in rts:
        r.start()
    for r in rts:
        r.join()
    assert not vacuum_errors, f"racing vacuum crashed: {vacuum_errors}"
    assert not os.path.exists(orphan)  # reclaimed exactly once, by someone
    assert sorted(r["id"] for r in t.read().select("id").collect()) == want


def test_cross_store_gdpr_multiactor_stress(spark, tmp_path):
    """Tier 4 (r15, VERDICT r14 item 4): one filesystem hosting a base
    parquet table + a TxnTable + an IVF root + a minhash LSH root, with
    ``plans/gdpr.erase_subject`` racing append / compact / retention
    actors across ALL stores at once. The r14 tiers stressed each log
    alone; the cross-store composition (s19's surface) is the
    interleaving space this covers. The GDPR actor uses the module's
    documented recovery story — every underlying erase is idempotent, so
    a conflict (pointer OCC collision, retired-version refusal, a
    residual introduced by a compact that raced the erase) means RUN IT
    AGAIN. Invariants at quiescence: the erased subjects never resurface
    in ANY store (a fresh verify=True composition erases 0 rows and
    raises nothing), head unions are intact (base rows minus subjects
    plus every appended batch, exactly once), and all survived history
    is readable."""
    import time

    import numpy as np

    from etl_hiscox_spark.operators.dedup import (
        compact_minhash_index,
        probe_minhash_index,
        write_minhash_index,
    )
    from etl_hiscox_spark.operators.similarity import (
        append_to_ivf_index,
        compact_ivf_index,
        random_hyperplanes,
        write_ivf_index,
    )
    from etl_hiscox_spark.plans.gdpr import erase_subject
    from etl_hiscox_spark.sources import genlog
    from etl_hiscox_spark.sources.txnlog import TxnTable

    def docs_df(lo, hi):
        return spark.createDataFrame(
            [(i, f"shared filler text body number {i} common tokens run")
             for i in range(lo, hi)],
            "doc_id long, text string",
        )

    def emb_df(lo, hi):
        return spark.createDataFrame(
            [(i, [float((i * 37 + j * 11) % 10) for j in range(16)])
             for i in range(lo, hi)],
            "vec_id long, embedding array<float>",
        )

    base = str(tmp_path / "base")
    txn_root = "file://" + str(tmp_path / "txn")
    ivf_root = "file://" + str(tmp_path / "ivf")
    mh_root = "file://" + str(tmp_path / "mh")

    docs_df(0, 40).write.mode("overwrite").parquet(base)
    t0 = TxnTable(spark, txn_root)
    t0.write(docs_df(0, 20), mode="append")
    t0.write(docs_df(20, 40), mode="append")
    write_ivf_index(
        emb_df(0, 40), ivf_root, "embedding", "vec_id",
        centroids=random_hyperplanes(dim=16, n_planes=8, seed=1),
    )
    write_minhash_index(docs_df(0, 40), "text", "doc_id", mh_root)

    subjects = spark.createDataFrame([(3,), (7,)], "doc_id long")
    errors: list[BaseException] = []

    def run(fn):
        try:
            fn()
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    def txn_appender():
        t = TxnTable(spark, txn_root)
        for lo in (100, 120, 140):
            t.write(docs_df(lo, lo + 10), mode="append")

    def index_appender():
        for lo in (100, 120):
            write_minhash_index(
                docs_df(lo, lo + 20), "text", "doc_id", mh_root, mode="append"
            )
            append_to_ivf_index(
                emb_df(lo, lo + 20), ivf_root, "embedding", "vec_id"
            )

    def compactor():
        for _ in range(2):
            genlog.rerun_on_generation_conflict(
                compact_minhash_index, spark, mh_root, attempts=30
            )
            genlog.rerun_on_generation_conflict(
                compact_ivf_index, spark, ivf_root, attempts=30
            )

    def retention():
        t = TxnTable(spark, txn_root)
        for _ in range(2):
            t.expire_versions(keep_last=3)
            t.vacuum(min_age_seconds=600.0)
            for root in (mh_root, ivf_root):
                genlog.vacuum_generations(
                    spark, root, keep_last=3, min_age_seconds=600.0
                )

    def gdpr():
        last: BaseException | None = None
        for _ in range(10):
            try:
                erase_subject(
                    spark, subjects,
                    base_tables=[(base, "doc_id")],
                    txn_tables=[(txn_root, "doc_id")],
                    ivf_indexes=[(ivf_root, "vec_id")],
                    minhash_indexes=[(mh_root, "doc_id")],
                    verify=True,
                )
                return
            except (FileExistsError, RuntimeError, ValueError) as exc:
                # pointer OCC collision / retired-version refusal /
                # residual planted by a racing compact — idempotent ops,
                # the documented recovery is to run the composition again
                last = exc
                time.sleep(0.2)
        raise AssertionError(f"gdpr actor never converged: {last}")

    threads = [
        threading.Thread(target=run, args=(fn,))
        for fn in (txn_appender, index_appender, compactor, retention, gdpr)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, f"actor crashed: {errors[:3]}"

    # -- invariants at quiescence --------------------------------------------
    # (1) a fresh composition finds NOTHING left to erase and verifies clean
    report = erase_subject(
        spark, subjects,
        base_tables=[(base, "doc_id")],
        txn_tables=[(txn_root, "doc_id")],
        ivf_indexes=[(ivf_root, "vec_id")],
        minhash_indexes=[(mh_root, "doc_id")],
        verify=True,
    )
    for row in report:
        n = row.get("n_erased", row.get("n_files_rewritten"))
        assert n == 0, f"subject resurfaced in {row['kind']}: {row}"

    # (2) txn head = base rows minus subjects plus every append, once each
    got = sorted(
        r["doc_id"]
        for r in TxnTable(spark, txn_root).read().select("doc_id").collect()
    )
    want = sorted(
        [i for i in range(40) if i not in (3, 7)]
        + [i for lo in (100, 120, 140) for i in range(lo, lo + 10)]
    )
    assert got == want
    # (3) surviving txn history is readable at every version
    t = TxnTable(spark, txn_root)
    for v in t._log.versions():
        t.read(v).count()

    # (4) the minhash index answers for survivors, never for the erased
    def mh_hits(doc_id):
        probe = spark.createDataFrame(
            [(9000, f"shared filler text body number {doc_id} common tokens run")],
            "doc_id long, text string",
        )
        out = probe_minhash_index(probe, "text", "doc_id", mh_root)
        return doc_id in {r["dup_of"] for r in out.collect()}

    for erased in (3, 7):
        assert not mh_hits(erased), f"erased doc {erased} resurfaced in LSH"
    for present in (23, 105, 125):
        assert mh_hits(present), f"doc {present} lost in the race"

    # (5) both pointer logs end on a clean, resolvable head
    for root in (mh_root, ivf_root):
        v, gen = genlog.current_generation(spark, root)
        assert genlog.pointer_segments(genlog.read_pointer(
            genlog.resolve_root(spark, root), v
        ))
