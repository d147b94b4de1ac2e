"""The cluster-reliability switch (VERDICT r10 next #6): every loop
body bounds its state through core.state.checkpoint_df, which picks
localCheckpoint (default — zero IO, executor-pinned) or reliable
checkpoint() (survives executor loss) per session."""

from __future__ import annotations

import os

import pytest

from columnflow_spark.core.state import checkpoint_df


@pytest.fixture()
def reliable_mode(tmp_path):
    os.environ["SPARK_GRAFT_RELIABLE_CHECKPOINT"] = "1"
    os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = str(tmp_path / "ckpt")
    try:
        yield str(tmp_path / "ckpt")
    finally:
        os.environ.pop("SPARK_GRAFT_RELIABLE_CHECKPOINT", None)
        os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)


def test_checkpoint_df_reliable_writes_and_preserves_rows(spark, reliable_mode):
    df = spark.range(100).selectExpr("id", "id * id AS sq")
    out = checkpoint_df(df)
    assert sorted((r.id, r.sq) for r in out.collect()) == [
        (i, i * i) for i in range(100)
    ]
    # the reliable form actually landed on the fault-tolerant store
    ckpt_dir = spark.sparkContext.getCheckpointDir()
    assert ckpt_dir is not None
    local = ckpt_dir.replace("file:", "")
    assert any(files for _, _, files in os.walk(local)), local


def test_checkpoint_df_default_is_local(spark):
    # no switch -> localCheckpoint semantics (no checkpoint-dir writes)
    df = checkpoint_df(spark.range(10))
    assert df.count() == 10


def test_loop_body_query_runs_under_reliable_mode(spark, sf_dir, reliable_mode):
    """A real iterative operator (the graph-ANN beam: 5 checkpointed
    rounds) must produce identical results under the reliable switch."""
    from columnflow_spark.queries.anngraph import (
        _final_topk,
        _graph_beam,
        _query_vectors,
        _session_pages,
    )

    qv = _query_vectors(spark, sf_dir)
    reliable = sorted(
        (r.query_id, r.neighbor_id, r.d, r.rk)
        for r in _final_topk(_graph_beam(spark, qv, _session_pages(spark, sf_dir))).collect()
    )
    os.environ.pop("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    local = sorted(
        (r.query_id, r.neighbor_id, r.d, r.rk)
        for r in _final_topk(_graph_beam(spark, qv, _session_pages(spark, sf_dir))).collect()
    )
    assert reliable == local
    assert reliable


def test_session_artifact_caches_honor_reliable_mode(spark, sf_dir, reliable_mode):
    """The two session-artifact caches that used raw localCheckpoint
    (minhash signatures, BPE word counts — VERDICT r11 nit) must route
    through checkpoint_df: under the switch their materialization lands
    on the checkpoint store like every loop-body site (79/79)."""
    from columnflow_spark.core.artifacts import purge
    from columnflow_spark.queries import mmdata

    purge("minhash_sigs")
    sigs = mmdata.minhash_sigs(spark, sf_dir)
    assert sigs.count() > 0
    wc = mmdata._bpe_word_state(spark, sf_dir)
    assert wc.count() > 0
    ckpt_dir = spark.sparkContext.getCheckpointDir()
    assert ckpt_dir is not None
    local = ckpt_dir.replace("file:", "")
    assert any(files for _, _, files in os.walk(local)), local
    purge("minhash_sigs")  # a reliable-pinned frame must not leak


def test_fallback_checkpoint_dir_removed_at_exit(tmp_path):
    """With the switch on and no configured checkpoint dir, the local
    fallback dir belongs to the process: nothing named
    ``cf_reliable_ckpt_*`` survives its exit."""
    import subprocess
    import sys
    import textwrap

    child = textwrap.dedent(
        """
        import os
        from columnflow_spark.core.state import _ensure_checkpoint_dir

        class _Conf:
            def get(self, key, default=None):
                return default

        class _Context:
            dir = None

            def getCheckpointDir(self):
                return self.dir

            def setCheckpointDir(self, path):
                self.dir = path

        class _Session:
            conf = _Conf()
            sparkContext = _Context()

        s = _Session()
        _ensure_checkpoint_dir(s)
        assert os.path.isdir(s.sparkContext.dir), s.sparkContext.dir
        print(s.sparkContext.dir)
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CHECKPOINT_DIR"}
    env["TMPDIR"] = str(tmp_path)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, env.get("PYTHONPATH")]))
    out = subprocess.run(
        [sys.executable, "-c", child], env=env, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    made = out.stdout.strip()
    assert os.path.basename(made).startswith("cf_reliable_ckpt_")
    assert os.path.dirname(made) == str(tmp_path)
    assert [e for e in os.listdir(tmp_path) if e.startswith("cf_reliable_ckpt_")] == []
