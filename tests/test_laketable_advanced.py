"""Lakehouse layer round-out: metadata tables, rollback, write-audit-
publish, type widening."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_iceberg_sandbox_spark.tables.laketable import (
    CommitConflict,
    LakeTable,
    NoSuchTable,
)


@pytest.fixture
def t(spark, scratch, request):
    table = LakeTable(spark, os.path.join(scratch, f"adv_{request.node.name}"))
    table.create(spark.range(10).withColumn("v", F.col("id") * 2))
    return table


def test_snapshots_df_and_files_df(spark, t):
    t.append(spark.range(10, 20).withColumn("v", F.col("id")))
    snaps = t.snapshots_df()
    assert [r["operation"] for r in snaps.orderBy("version").collect()] == [
        "create",
        "append",
    ]
    files = t.files_df()
    assert files.count() > 0
    assert files.filter(F.col("size_bytes") <= 0).count() == 0


def test_rollback_restores_and_keeps_history(spark, t):
    t.append(spark.range(10, 20).withColumn("v", F.col("id")))
    assert t.read().count() == 20
    t.rollback(1)
    assert t.read().count() == 10
    ops = [m.operation for m in t.snapshots()]
    assert ops[-1] == "rollback_to_v1"
    # the rolled-past snapshot is still time-travelable
    assert t.read(version=2).count() == 20


def test_write_audit_publish(spark, t):
    bad_batch = spark.range(100, 110).withColumn("v", F.lit(-1).cast("long"))
    token = t.stage_append(bad_batch)
    # readers see nothing until publish
    assert t.read().count() == 10
    # audit the stage: a one-batch branch
    audit = t.read_branch(token)
    assert audit.count() == 20
    n_bad = audit.filter(F.col("v") < 0).count()
    assert n_bad == 10  # audit catches them; choose to publish anyway
    t.fast_forward(token)
    assert t.read().count() == 20
    assert [m.operation for m in t.snapshots()][-1] == f"fast_forward_branch:{token}"


def test_publish_conflicts_against_moved_pointer(spark, t):
    token = t.stage_append(
        spark.range(100, 105).withColumn("v", F.lit(0).cast("long"))
    )
    t.append(spark.range(200, 205).withColumn("v", F.lit(1).cast("long")))
    with pytest.raises(CommitConflict):
        t.fast_forward(token)


def test_failed_stage_leaves_no_branch_ref(spark, t):
    """A stage whose write fails returns no token, so it must leave no
    branch ref behind (one would pin its fork snapshot against expiry
    with nobody able to drop it)."""
    with pytest.raises(Exception, match="boom"):
        t.stage_append(spark.range(3).withColumn("v", F.raise_error("boom")))
    assert t._branches() == []
    assert t.read().count() == 10


def test_alter_column_type_widens(spark, scratch):
    table = LakeTable(spark, os.path.join(scratch, "widen"))
    table.create(
        spark.range(5).select(
            F.col("id").cast("int").alias("id"), F.lit(1.5).cast("float").alias("x")
        )
    )
    table.alter_column_type("id", "long").alter_column_type("x", "double")
    schema = dict((f.name, f.dataType.typeName()) for f in table.read().schema.fields)
    assert schema == {"id": "long", "x": "double"}
    assert table.read().agg(F.sum("id")).collect()[0][0] == 10
    with pytest.raises(ValueError, match="cannot narrow"):
        table.alter_column_type("id", "int")


def test_rewrite_sorted_improves_file_skipping(spark, scratch):
    t = LakeTable(spark, os.path.join(scratch, "sorted_rw"))
    scrambled = (
        spark.range(10_000)
        .withColumn("k", F.abs(F.xxhash64("id")) % 10_000)
        .repartition(8)
    )
    t.create(scrambled)
    pred = [("k", "<", 100)]
    before = t.files_scanned(pred)
    t.rewrite_sorted(["k"], target_file_size_bytes=20_000)
    after = t.files_scanned(pred)
    # every pre-rewrite file spans ~the full k range; post-rewrite the
    # range-partitioned sort makes file [min,max] disjoint
    assert before >= 4, before
    assert after <= 2, after
    assert t.read().count() == 10_000
    assert t.manifest().properties["sort.order"] == "k"
    assert [m.operation for m in t.snapshots()][-1] == "rewrite-sorted"


def test_tags_pin_snapshots_through_expiry(spark, scratch):
    from data_iceberg_sandbox_spark.tables.laketable import NoSuchTable

    t = LakeTable(spark, os.path.join(scratch, "tags"))
    t.create(spark.range(5).withColumn("v", F.col("id")))
    t.overwrite(spark.range(5).withColumn("v", F.col("id") + 1))
    t.overwrite(spark.range(5).withColumn("v", F.col("id") + 2))
    t.tag("baseline", 1)
    removed = t.expire_snapshots(retain_last=1)
    assert 1 not in removed and 2 in removed  # tagged v1 kept, v2 expired
    assert {r["v"] for r in t.read_tag("baseline").collect()} == {0, 1, 2, 3, 4}
    t.drop_tag("baseline")
    with pytest.raises(NoSuchTable):
        t.read_tag("baseline")


def test_tag_lock_serializes_writers(spark, scratch):
    """Concurrent tag writers must all land (no lost update); a held
    lock is covered by test_held_table_lock_conflicts_and_writes_nothing."""
    import sys
    import threading

    t = LakeTable(spark, os.path.join(scratch, "tag_lock"))
    t.create(spark.range(3).withColumn("v", F.col("id")))
    t.overwrite(spark.range(3).withColumn("v", F.col("id") + 1))

    threads = [
        threading.Thread(target=t.tag, args=(f"tag{i}", 1)) for i in range(8)
    ]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert {f"tag{i}" for i in range(8)} <= set(t.tags())


def test_tag_refuses_a_damaged_tags_file(spark, t):
    """tag/drop_tag read tags.json strictly: a damaged file raises and is
    left as it is, instead of being read as {} and written back."""
    t.tag("a", 1)
    t.tag("b", 1)
    with open(t._tags_path, "w", encoding="utf-8") as f:
        f.write('{"a": 1, "b": ')
    for op in (lambda: t.tag("c", 1), lambda: t.drop_tag("a")):
        with pytest.raises(ValueError):
            op()
        with open(t._tags_path, encoding="utf-8") as f:
            assert f.read() == '{"a": 1, "b": '


def test_incremental_read_appends_only(spark, scratch):
    from data_iceberg_sandbox_spark.tables.laketable import (
        IncrementalReadError,
    )

    t = LakeTable(spark, os.path.join(scratch, "incr"))
    base = spark.range(0, 100).withColumnRenamed("id", "k")
    t.create(base)
    t.append(spark.range(100, 150).withColumnRenamed("id", "k"))
    t.append(spark.range(150, 180).withColumnRenamed("id", "k"))
    # catch-up from v1: exactly the two appends, never the base
    got = sorted(r["k"] for r in t.read_incremental(1).collect())
    assert got == list(range(100, 180))
    # sub-range (v2 -> v3]: just the second append
    got = sorted(r["k"] for r in t.read_incremental(2, 3).collect())
    assert got == list(range(150, 180))
    # empty range
    assert t.read_incremental(3).count() == 0
    # a rewrite commit inside the range fails loud
    t.delete_where(F.col("k") < 10)
    with pytest.raises(IncrementalReadError):
        t.read_incremental(1)
    # ... but a range ending before the rewrite still works
    assert t.read_incremental(1, 3).count() == 80
    # metadata-only commits pass through (no file delta)
    t2 = LakeTable(spark, os.path.join(scratch, "incr_meta"))
    t2.create(base)
    t2.add_column("extra", "double")
    t2.append(
        spark.range(200, 210)
        .withColumnRenamed("id", "k")
        .withColumn("extra", F.lit(1.5))
    )
    got = sorted(r["k"] for r in t2.read_incremental(1).collect())
    assert got == list(range(200, 210))


def test_remove_orphan_files(spark, scratch):
    import time as _time

    t = LakeTable(spark, os.path.join(scratch, "orphans"))
    t.create(spark.range(0, 50).withColumnRenamed("id", "k"))
    t.append(spark.range(50, 80).withColumnRenamed("id", "k"))
    # simulate a crashed write: data files on disk, no manifest commit
    orphan_dir = os.path.join(t.root, "data", "deadbeefcafe")
    os.makedirs(orphan_dir)
    spark.range(0, 5).write.mode("overwrite").parquet(
        os.path.join(orphan_dir, "tmp")
    )
    before = t.read().count()
    # cutoff in the future → everything unreferenced is old enough
    removed = t.remove_orphan_files(
        older_than_ms=int(_time.time() * 1000) + 60_000
    )
    assert removed and all("deadbeefcafe" in f for f in removed)
    assert not os.path.isdir(orphan_dir)
    assert t.read().count() == before  # live data untouched
    # young unreferenced files survive (in-flight commit protection)
    young = os.path.join(t.root, "data", "inflight0000")
    os.makedirs(young)
    spark.range(0, 3).write.mode("overwrite").parquet(
        os.path.join(young, "tmp")
    )
    assert t.remove_orphan_files() == []  # default cutoff: newest snapshot
    assert os.path.isdir(young)


def test_merge_conditional_clauses(spark, scratch):
    t = LakeTable(spark, os.path.join(scratch, "merge_cond"))
    t.create(
        spark.createDataFrame(
            [(1, "keep", 10.0), (2, "del", 20.0), (3, "upd", 30.0),
             (4, "nullcond", 40.0)],
            "k INT, tag STRING, v DOUBLE",
        )
    )
    src = spark.createDataFrame(
        [(2, "del", 99.0), (3, "upd", 99.0), (4, None, 99.0),
         (5, "new-hi", 200.0), (6, "new-lo", 1.0)],
        "k INT, tag STRING, v DOUBLE",
    )
    t.merge_conditional(
        src,
        on=["k"],
        delete_when=F.col("s.tag") == "del",     # k=2 deleted; k=4 NULL cond -> kept
        update_when=F.col("t.v") < 35.0,          # k=3 updated; k=4 not (40 >= 35)
        insert_when=F.col("v") > 100.0,           # k=5 inserted; k=6 not
    )
    rows = {r.k: (r.tag, r.v) for r in t.read().collect()}
    assert set(rows) == {1, 3, 4, 5}
    assert rows[1] == ("keep", 10.0)      # untouched
    assert rows[3] == ("upd", 99.0)       # updated
    assert rows[4] == ("nullcond", 40.0)  # NULL delete-cond + failed update-cond -> target kept
    assert rows[5] == ("new-hi", 200.0)   # conditional insert


def test_merge_conditional_duplicate_source_fails(spark, scratch):
    from data_iceberg_sandbox_spark.tables.laketable import MergeCardinalityError

    t = LakeTable(spark, os.path.join(scratch, "merge_cond_dup"))
    t.create(spark.createDataFrame([(1, 1.0)], "k INT, v DOUBLE"))
    src = spark.createDataFrame([(1, 2.0), (1, 3.0)], "k INT, v DOUBLE")
    with pytest.raises(MergeCardinalityError):
        t.merge_conditional(src, on=["k"])


def test_merge_conditional_update_exclude(spark, scratch):
    t = LakeTable(spark, os.path.join(scratch, "merge_cond_excl"))
    t.create(
        spark.createDataFrame(
            [(1, "orig", 10.0)], "k INT, created_by STRING, v DOUBLE"
        )
    )
    src = spark.createDataFrame(
        [(1, "writer2", 99.0)], "k INT, created_by STRING, v DOUBLE"
    )
    t.merge_conditional(src, on=["k"], update_exclude=("created_by",))
    row = t.read().collect()[0]
    assert row.v == 99.0           # updated
    assert row.created_by == "orig"  # excluded column keeps target value


def test_wap_stage_applies_mor_deletes(spark, t):
    """A WAP audit on a table with merge-on-read deletes must see the
    parent's delete sidecars applied (Iceberg wap.branch semantics):
    old-file rows stay suppressed, while the staged batch — including a
    re-insert of a deleted key — is visible (its sequence postdates the
    sidecar)."""
    t.delete_keys_mor(spark.createDataFrame([(3,), (7,)], "id long"))
    assert t.read().count() == 8
    token = t.stage_append(
        spark.createDataFrame([(7, -7), (100, 200)], "id long, v long")
    )
    audit = t.read_branch(token)
    ids = sorted(r["id"] for r in audit.collect())
    # 10 originals − {3,7} deleted + staged {7, 100}
    assert ids == [0, 1, 2, 4, 5, 6, 7, 8, 9, 100]
    assert audit.filter(F.col("id") == 7).collect()[0]["v"] == -7
    t.fast_forward(token)
    assert sorted(r["id"] for r in t.read().collect()) == ids


def test_branch_write_read_fast_forward(spark, t):
    """Branch lifecycle: appends on a branch are invisible to main,
    read_branch sees fork content + branch batches, fast_forward lands
    them as one main snapshot and deletes the ref."""
    t.create_branch("ingest")
    t.branch_append(
        "ingest", spark.createDataFrame([(100, 1), (101, 2)], "id long, v long")
    )
    t.branch_append("ingest", spark.createDataFrame([(102, 3)], "id long, v long"))
    assert t.read().count() == 10  # main unchanged
    assert t.read_branch("ingest").count() == 13
    t.fast_forward("ingest")
    assert t.read().count() == 13
    assert [m.operation for m in t.snapshots()][-1] == "fast_forward_branch:ingest"
    with pytest.raises(NoSuchTable):
        t.read_branch("ingest")  # ref deleted on land


def test_branch_fast_forward_conflicts_when_main_moves(spark, t):
    t.create_branch("b")
    t.branch_append("b", spark.createDataFrame([(200, 0)], "id long, v long"))
    t.append(spark.createDataFrame([(300, 0)], "id long, v long"))  # main moves
    with pytest.raises(CommitConflict):
        t.fast_forward("b")
    t.drop_branch("b")


def test_branch_sees_fork_mor_deletes(spark, t):
    """A branch forked after MoR deletes must read with the fork's
    sidecars applied; a branch re-insert of a deleted key is visible
    (its sequence postdates the sidecar)."""
    t.delete_keys_mor(spark.createDataFrame([(4,)], "id long"))
    t.create_branch("fix")
    t.branch_append("fix", spark.createDataFrame([(4, -4)], "id long, v long"))
    ids = sorted(r["id"] for r in t.read_branch("fix").collect())
    assert ids == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9]
    assert t.read_branch("fix").filter(F.col("id") == 4).collect()[0]["v"] == -4
    t.fast_forward("fix")
    assert t.read().filter(F.col("id") == 4).collect()[0]["v"] == -4


def test_branch_duplicate_create_conflicts(spark, t):
    t.create_branch("dup")
    with pytest.raises(CommitConflict):
        t.create_branch("dup")


def test_truncated_branch_ref_is_no_branch(spark, t):
    """A truncated ref left by a crashed writer reads as no branch, not
    as a JSONDecodeError; create keeps refusing the name until it is
    dropped."""
    with open(t._branch_path("cut"), "w", encoding="utf-8") as f:
        f.write('{"version": -1, "par')
    with pytest.raises(NoSuchTable):
        t.read_branch("cut")
    with pytest.raises(NoSuchTable):
        t.fast_forward("cut")
    with pytest.raises(CommitConflict):
        t.create_branch("cut")
    t.drop_branch("cut")
    t.create_branch("cut")
    assert t.read_branch("cut").count() == 10


def test_two_branches_first_ff_wins(spark, t):
    """Two branches forked from the same snapshot: the first
    fast-forward lands; the second now targets a moved main and must
    conflict (its work is preserved on the branch for a manual rebase
    or drop) — the multi-writer contract at branch granularity."""
    t.create_branch("a")
    t.create_branch("b")
    t.branch_append("a", spark.createDataFrame([(400, 0)], "id long, v long"))
    t.branch_append("b", spark.createDataFrame([(500, 0)], "id long, v long"))
    t.fast_forward("a")
    assert t.read().count() == 11
    with pytest.raises(CommitConflict):
        t.fast_forward("b")
    assert t.read_branch("b").filter(F.col("id") == 500).count() == 1  # preserved
    t.drop_branch("b")


def test_orphan_gc_protects_staged_and_branch_refs(spark, scratch):
    """ADVICE r11: WAP stages and branch refs are referenced metadata —
    their data files must survive GC at any cutoff; only an explicitly
    dropped stage becomes collectable; publish-after-GC of a live stage
    reads back intact."""
    import time as _time

    far = int(_time.time() * 1000) + 3_600_000
    t = LakeTable(spark, os.path.join(scratch, "orph_wap"))
    t.create(spark.range(0, 40).withColumnRenamed("id", "k"))
    token = t.stage_append(spark.range(40, 60).withColumnRenamed("id", "k"))
    t.create_branch("wip")
    t.branch_append("wip", spark.range(60, 70).withColumnRenamed("id", "k"))
    # live stage + live branch: nothing collectable even far-future
    assert t.remove_orphan_files(older_than_ms=far) == []
    # the stage still publishes cleanly after the GC pass
    t.fast_forward(token)
    assert t.read().count() == 60
    assert t.read_branch("wip").count() == 50
    # an abandoned stage becomes collectable only after drop_branch
    tok2 = t.stage_append(spark.range(70, 90).withColumnRenamed("id", "k"))
    assert t.remove_orphan_files(older_than_ms=far) == []
    t.drop_branch(tok2)
    removed = t.remove_orphan_files(older_than_ms=far)
    assert removed, "dropped stage's files were not collected"
    assert t.read().count() == 60  # committed data untouched
    with pytest.raises(NoSuchTable):
        t.drop_branch("nosuchtoken")


def test_orphan_gc_protects_mor_delete_sidecars(spark, scratch):
    """r12 review: GC's live set must include merge-on-read delete
    sidecars — deleting one would crash every later read (or resurrect
    the deleted rows)."""
    import time as _time

    far = int(_time.time() * 1000) + 3_600_000
    t = LakeTable(spark, os.path.join(scratch, "orph_mor"))
    t.create(spark.range(0, 100).withColumnRenamed("id", "k"))
    t.delete_keys_mor(
        spark.createDataFrame([(5,), (6,), (7,)], "k: long")
    )
    before = t.read().count()
    assert before == 97
    assert t.remove_orphan_files(older_than_ms=far) == []
    assert t.read().count() == 97  # sidecar intact, rows stay deleted


def _leave_debris(t: LakeTable, df) -> None:
    """Commit ``df`` as v(N+1), then move the pointer back to N: the
    state a writer leaves that died between manifest write and pointer
    swing. The debris manifest references real, uncommitted rows."""
    v = t.current_version()
    t.append(df)
    with open(t._current_path, "w", encoding="utf-8") as f:
        f.write(str(v))


def test_commit_reclaims_dead_writer_manifest_slot(spark, scratch):
    """A v(N+1).json left by a writer that died between the manifest
    write and the pointer swing is invisible, and the next commit lands
    at once over it: directly, and through the streaming epoch guard."""
    from data_iceberg_sandbox_spark.streaming.fraud_stream import (
        epoch_guarded_write,
    )

    t = LakeTable(spark, os.path.join(scratch, "wedge"))
    t.create(spark.range(0, 10).withColumnRenamed("id", "k"))
    _leave_debris(t, spark.range(100, 103).withColumnRenamed("id", "k"))
    assert [m.version for m in t.snapshots()] == [1]  # debris invisible
    t.append(spark.range(10, 20).withColumnRenamed("id", "k"))
    assert t.current_version() == 2
    assert sorted(r["k"] for r in t.read().collect()) == list(range(20))

    s = LakeTable(spark, os.path.join(scratch, "wedge_epoch"))
    batch = spark.range(0, 5).withColumnRenamed("id", "k")
    epoch_guarded_write(s, batch, 0)
    _leave_debris(s, batch)  # epoch 1's commit died before the swing
    epoch_guarded_write(s, batch, 1)  # the retried epoch 1
    assert s.current_version() == 2
    assert s.manifest().properties["streaming.last_epoch"] == "1"
    assert s.read().count() == 10


def test_uncommitted_manifest_is_not_a_snapshot(spark, scratch):
    """Every versioned read resolves through manifest(v), which refuses
    a version above the pointer: the debris rows never surface, and no
    tag or rollback can pin or commit them."""
    t = LakeTable(spark, os.path.join(scratch, "ghost"))
    t.create(spark.range(0, 5).withColumnRenamed("id", "k"))
    _leave_debris(t, spark.range(100, 103).withColumnRenamed("id", "k"))
    for read in (
        lambda: t.read(version=2),
        lambda: t.tag("ghost", 2),
        lambda: t.rollback(2),
        lambda: t.read_incremental(1, 2),
        lambda: t.changes_between(1, 2),
        lambda: t.snapshot_diff(1, 2),
    ):
        with pytest.raises(NoSuchTable):
            read()
    assert t.tags() == {} and t.current_version() == 1
    assert t.read().count() == 5


@pytest.mark.parametrize("op", ["append", "tag", "expire_snapshots"])
def test_held_table_lock_conflicts_and_writes_nothing(spark, scratch, monkeypatch, op):
    """While another open file holds the table lock, a commit, a tag and
    an expiry each raise CommitConflict after the lock wait and change
    no manifest, pointer or tag."""
    import fcntl
    import time

    from data_iceberg_sandbox_spark.tables import laketable as lt_mod

    t = LakeTable(spark, os.path.join(scratch, f"held_{op}"))
    t.create(spark.range(0, 5).withColumnRenamed("id", "k"))
    t.overwrite(spark.range(0, 6).withColumnRenamed("id", "k"))
    t.overwrite(spark.range(0, 7).withColumnRenamed("id", "k"))
    t.tag("base", 1)
    call = {
        "append": lambda: t.append(spark.range(10, 12).withColumnRenamed("id", "k")),
        "tag": lambda: t.tag("blocked", 1),
        "expire_snapshots": lambda: t.expire_snapshots(retain_last=1),
    }[op]

    def metadata() -> dict[str, bytes]:
        out = {}
        for d in (t.root, t._manifest_dir):
            for fn in os.listdir(d):
                p = os.path.join(d, fn)
                if os.path.isfile(p):
                    with open(p, "rb") as f:
                        out[p] = f.read()
        return out

    monkeypatch.setattr(lt_mod, "LOCK_WAIT_SEC", 0.2)
    before = metadata()
    fd = os.open(os.path.join(t._manifest_dir, ".lock"), os.O_RDWR)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        t0 = time.monotonic()
        with pytest.raises(CommitConflict):
            call()
        if op != "append":  # an append's data write runs before the lock
            assert time.monotonic() - t0 < 5
        assert metadata() == before
    finally:
        os.close(fd)
    call()  # the lock is free again
    assert metadata() != before


def test_killed_lock_holder_does_not_block_commits(spark, scratch, monkeypatch):
    """A process SIGKILLed inside the table lock leaves nothing to
    reclaim: the kernel releases its flock, and the next commit lands
    within the lock wait."""
    import signal
    import subprocess
    import sys

    from data_iceberg_sandbox_spark.tables import laketable as lt_mod

    t = LakeTable(spark, os.path.join(scratch, "killed_holder"))
    t.create(spark.range(0, 5).withColumnRenamed("id", "k"))
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import sys, time\n"
            "from data_iceberg_sandbox_spark.tables.laketable import LakeTable\n"
            "held = LakeTable(None, sys.argv[1])._lock()\n"
            "held.__enter__()\n"
            "print('held', flush=True)\n"
            "time.sleep(600)\n",
            t.root,
        ],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        monkeypatch.setattr(lt_mod, "LOCK_WAIT_SEC", 0.2)
        with pytest.raises(CommitConflict):
            t.tag("blocked")
        holder.send_signal(signal.SIGKILL)
        holder.wait(timeout=30)
    finally:
        holder.kill()
        holder.wait(timeout=30)
        holder.stdout.close()
    t.append(spark.range(5, 8).withColumnRenamed("id", "k"))
    t.tag("after")
    assert t.current_version() == 2 and t.tags() == {"after": 2}
    assert t.read().count() == 8


def test_table_from_before_the_lock_still_works(spark, scratch):
    """Tables written before the table lock carry a per-commit ``writer``
    key in each manifest and may hold a leftover ``tags.json.lock``:
    they still read, tag and commit."""
    import json

    t = LakeTable(spark, os.path.join(scratch, "pre_lock"))
    t.create(spark.range(0, 5).withColumnRenamed("id", "k"))
    t.append(spark.range(5, 8).withColumnRenamed("id", "k"))
    for v in (1, 2):
        with open(t._manifest_path(v), encoding="utf-8") as f:
            d = json.load(f)
        d["writer"] = f"w{v}"
        with open(t._manifest_path(v), "w", encoding="utf-8") as f:
            json.dump(d, f)
    with open(t._tags_path + ".lock", "w", encoding="utf-8") as f:
        f.write("dead-holder-token")
    assert t.read(version=1).count() == 5 and t.read().count() == 8
    t.tag("old", 1)
    t.append(spark.range(8, 10).withColumnRenamed("id", "k"))
    assert t.tags() == {"old": 1} and t.read().count() == 10
    assert [m.version for m in t.snapshots()] == [1, 2, 3]


def test_expire_snapshots_rejects_retain_last_below_one(spark, t):
    t.append(spark.range(10, 12).withColumn("v", F.col("id")))
    for bad in (0, -2):
        with pytest.raises(ValueError):
            t.expire_snapshots(retain_last=bad)
    assert [m.version for m in t.snapshots()] == [1, 2]
    assert t.read().count() == 12


@pytest.mark.parametrize("method", ["compact", "rewrite_sorted", "rewrite_zorder"])
@pytest.mark.parametrize("size", [0, -1])
def test_rewrite_rejects_target_file_size_below_one(spark, scratch, method, size):
    """A non-positive target is refused before any scan (0 divided by
    zero; a negative target silently wrote one file)."""
    t = LakeTable(spark, os.path.join(scratch, f"rewrite_size_{method}_{-size}"))
    t.create(spark.range(10).withColumn("v", F.col("id") * 2))

    def no_scan(*_a, **_k):
        raise AssertionError("scanned before validating the target size")

    t._scan_manifest = no_scan
    args = [] if method == "compact" else [["id"]]
    with pytest.raises(ValueError):
        getattr(t, method)(*args, target_file_size_bytes=size)
    assert [m.version for m in t.snapshots()] == [1]


def test_drop_table_refuses_namespace(spark, scratch):
    from data_iceberg_sandbox_spark.tables.laketable import LakeCatalog

    cat = LakeCatalog(spark, os.path.join(scratch, "wh"))
    cat.create_namespace("fin")
    cat.table("fin.tx").create(spark.range(0, 5).withColumnRenamed("id", "k"))
    try:
        cat.drop_table("fin")
        raise AssertionError("dropping a namespace must raise")
    except ValueError:
        pass
    assert cat.table_exists("fin.tx")
    cat.drop_table("fin.tx")
    assert not cat.table_exists("fin.tx")


def test_read_incremental_accepts_wap_publish(spark, scratch):
    """r12 review: a WAP publish only adds files and must flow through
    the incremental changelog."""
    t = LakeTable(spark, os.path.join(scratch, "inc_wap"))
    t.create(spark.range(0, 10).withColumnRenamed("id", "k"))
    tok = t.stage_append(spark.range(10, 25).withColumnRenamed("id", "k"))
    t.fast_forward(tok)
    inc = t.read_incremental(1)
    assert inc.count() == 15
    assert {r["k"] for r in inc.collect()} == set(range(10, 25))


def test_read_incremental_across_branch_fast_forward(spark, scratch):
    """A branch fast-forward only adds files, so an incremental read
    across it returns exactly the branch's rows: commits are classified
    by their file delta, not by their operation name."""
    t = LakeTable(spark, os.path.join(scratch, "inc_ff"))
    t.create(spark.range(0, 10).withColumnRenamed("id", "k"))
    t.create_branch("b")
    t.branch_append("b", spark.range(10, 15).withColumnRenamed("id", "k"))
    t.branch_append("b", spark.range(15, 18).withColumnRenamed("id", "k"))
    t.fast_forward("b")
    got = sorted(r["k"] for r in t.read_incremental(1).collect())
    assert got == list(range(10, 18))


def test_concurrent_appends_lose_nothing(spark, scratch):
    """r13 fence work, end-to-end: N threads race appends with retry on
    CommitConflict; every acknowledged commit's rows must be readable
    (no lost commits), the manifest chain must be a single line from
    v1 to the final version, and no acknowledged version may be
    orphaned (the corruption modes the writer fence closes)."""
    import threading

    from data_iceberg_sandbox_spark.tables.laketable import CommitConflict

    t = LakeTable(spark, os.path.join(scratch, "race_appends"))
    t.create(spark.range(0, 10).withColumnRenamed("id", "k"))
    N_THREADS, N_APPENDS = 4, 3
    acked: list[int] = []
    errors: list[str] = []
    lock = threading.Lock()

    def writer(tid: int) -> None:
        for j in range(N_APPENDS):
            lo = 1000 * (tid * N_APPENDS + j + 1)
            df = spark.range(lo, lo + 10).withColumnRenamed("id", "k")
            for _attempt in range(60):
                try:
                    t.append(df)
                    with lock:
                        acked.append(lo)
                    break
                except CommitConflict:
                    continue
                except Exception as e:  # noqa: BLE001
                    with lock:
                        errors.append(f"{type(e).__name__}: {e}")
                    return
            else:
                with lock:
                    errors.append(f"thread {tid} exhausted retries")

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(N_THREADS)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert len(acked) == N_THREADS * N_APPENDS
    # every acknowledged batch is present exactly once
    ks = [r["k"] for r in t.read().collect()]
    assert len(ks) == len(set(ks)) == 10 + 10 * len(acked)
    for lo in acked:
        assert lo in set(ks)
    # manifest chain is a single unbroken line
    mans = t.snapshots()
    versions = sorted(m.version for m in mans)
    assert versions == list(range(1, len(acked) + 2))
    by_v = {m.version: m for m in mans}
    for v in versions[1:]:
        assert by_v[v].parent == v - 1
