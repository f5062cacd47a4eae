"""Session factory behaviour that holds wherever the driver runs."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_python_udf_query_runs_from_any_directory(tmp_path):
    # The driver imports the package through sys.path alone; the
    # Python workers then need the session to tell them where it is.
    script = tmp_path / "neardup.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            from workshoop2_etl_spark.operators.similarity import embedding_neardup
            from workshoop2_etl_spark.session import get_session

            spark = get_session(master="local[1]", shuffle_partitions=1)
            vec = [1.0, 0.5, -0.25, 2.0]
            emb = spark.createDataFrame(
                [(1, vec), (2, vec)], "vec_id long, embedding array<double>"
            )
            out = embedding_neardup(emb, dim=4, num_tables=2, num_planes=2)
            print("PAIRS", sorted((r.vec_id_a, r.vec_id_b) for r in out.collect()))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    run = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "PAIRS [(1, 2)]" in run.stdout
