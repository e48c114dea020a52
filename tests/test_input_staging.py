"""S8 input modalities: stdin ('-'), HTTP(S) staging, s3->s3a mapping
(docs/inputs.md:7-40)."""

from __future__ import annotations

import http.server
import json
import os
import socketserver
import subprocess
import sys
import threading

FIX = "/root/reference/fixtures"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stdin_input_stages(tmp_path):
    """'-' reads the whole of stdin; run in a subprocess so the parent's
    stdin isn't consumed.  The child flattens reference basic.json piped in
    and prints the resulting table names + main row count."""
    script = tmp_path / "child.py"
    script.write_text(
        f"""
import json, sys
sys.path.insert(0, {REPO!r})
from flatterer_spark.session import get_spark
from flatterer_spark.flatten_api import flatten_dataframes

spark = get_spark("stdin-test", cpus=2)
res = flatten_dataframes(spark, "-")
print(json.dumps({{
    "tables": sorted(res.tables),
    "main_rows": res.tables["main"].count(),
}}))
"""
    )
    with open(f"{FIX}/basic.json", "rb") as f:
        out = subprocess.run(
            [sys.executable, str(script)],
            stdin=f,
            capture_output=True,
            timeout=240,
        )
    assert out.returncode == 0, out.stderr.decode()[-2000:]
    got = json.loads(out.stdout.decode().strip().splitlines()[-1])
    assert got == {"tables": ["developer", "main", "platforms"], "main_rows": 2}


def test_http_input_staged(spark, tmp_path):
    """https:// input downloads to a temp file and flattens like a local
    path (served here by a loopback http.server)."""
    from flatterer_spark.flatten_api import flatten_dataframes
    from flatterer_spark.sources import json_input

    docdir = tmp_path / "www"
    docdir.mkdir()
    with open(f"{FIX}/basic.json") as f:
        (docdir / "basic.json").write_text(f.read())

    class Quiet(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=str(docdir), **kw)

        def log_message(self, *a):
            pass

    with socketserver.TCPServer(("127.0.0.1", 0), Quiet) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        try:
            before = set(json_input._SPOOL_FILES)
            res = flatten_dataframes(
                spark, f"http://127.0.0.1:{port}/basic.json"
            )
            assert sorted(res.tables) == ["developer", "main", "platforms"]
            assert res.tables["main"].count() == 2
            staged = [p for p in json_input._SPOOL_FILES if p not in before]
            assert len(staged) == 1 and os.path.exists(staged[0])
            json_input.cleanup_spools(staged)
            assert not os.path.exists(staged[0])
        finally:
            httpd.shutdown()


def test_json_stream_chunker_bounded_memory():
    """The concatenated-JSON chunker decodes out of a sliding buffer; values
    split across arbitrary chunk boundaries (incl. numbers and literals)
    reassemble correctly."""
    import io

    from flatterer_spark.sources.json_input import iter_json_stream_file

    s = '{"a": 1}{"b": [1,2,{"c":"}{"}]}  true 3.5 "str}{" null\n{"d":2} 1e10'
    want = [
        {"a": 1}, {"b": [1, 2, {"c": "}{"}]}, True, 3.5, "str}{", None,
        {"d": 2}, 1e10,
    ]
    for cs in (1, 2, 3, 7, 1 << 20):
        got = list(iter_json_stream_file(io.StringIO(s), chunk_size=cs))
        assert got == want, f"chunk_size={cs}"
    assert list(iter_json_stream_file(io.StringIO("  \n "))) == []


def test_cli_end_to_end(tmp_path):
    """Console surface: python -m flatterer_spark.cli INPUT OUT --options."""
    out = tmp_path / "cliout"
    r = subprocess.run(
        [
            sys.executable, "-m", "flatterer_spark.cli",
            f"{FIX}/basic.json", str(out),
            "--pushdown", "id", "--sql-scripts",
        ],
        capture_output=True,
        timeout=300,
        cwd=REPO,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"},
    )
    assert r.returncode == 0, r.stderr.decode()[-2000:]
    assert (out / "csv" / "main.csv").exists()
    assert (out / "csv" / "platforms.csv").exists()
    assert (out / "fields.csv").exists()
    assert (out / "postgresql" / "postgresql_schema.sql").exists()
    with open(out / "csv" / "platforms.csv") as f:
        header = f.readline().strip().split(",")
    assert "main_id" in header  # pushdown reached the child table


def test_s3_maps_to_s3a_when_connector_present():
    """With hadoop-aws on the classpath, s3:// inputs map to the native
    s3a:// connector (executor-parallel object reads -- the cluster path);
    local paths pass through untouched."""
    from flatterer_spark.sources.json_input import _stage_input

    class _FakeClass:
        @staticmethod
        def forName(name):
            assert name == "org.apache.hadoop.fs.s3a.S3AFileSystem"
            return object()

    class _FakeLang:
        Class = _FakeClass

    class _FakeJvm:
        java = type("j", (), {"lang": _FakeLang})

    class _FakeSpark:
        _jvm = _FakeJvm()

    assert (
        _stage_input("s3://bucket/key.json", _FakeSpark())
        == "s3a://bucket/key.json"
    )
    assert _stage_input("/local/path.json") == "/local/path.json"


def test_s3_stages_via_boto3_without_connector(monkeypatch):
    """Without the connector (this container), s3:// inputs stage to a
    local spool via boto3 -- the driver-staged fallback; the live moto
    integration lives in tests/test_s3_moto.py."""
    from flatterer_spark.sinks import s3io
    from flatterer_spark.sources import json_input

    staged = {}

    def fake_stage(uri):
        import tempfile

        fd, p = tempfile.mkstemp(suffix=".json")
        import os

        os.close(fd)
        staged["uri"] = uri
        return p

    monkeypatch.setattr(s3io, "stage_s3_to_local", fake_stage)
    out = json_input._stage_input("s3://bucket/key.json", None)
    assert staged["uri"] == "s3://bucket/key.json"
    assert out.endswith(".json") and not out.startswith("s3")
    json_input.cleanup_spools([out])
