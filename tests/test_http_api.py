"""HTTP facade parity: the reference's Flask GET routes
(combined_flask.py:85-697) served over stdlib http.server, each
answering the `{response, status: EDFS<code>}` envelope with HTTP 200
— end-to-end over localhost against a scratch warehouse."""

import csv
import io
import json
import os
import sys
import urllib.parse
import urllib.request

import pytest

from dsci551_edfs_spark import memo as MEMO
from dsci551_edfs_spark.cli import EdfsShell
from dsci551_edfs_spark.http_api import start_server
from dsci551_edfs_spark.sources.partials import map_partials
from dsci551_edfs_spark.sources.registry import load_table

SCRATCH = os.path.join(MEMO.SCRATCH, "test_http")


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    shell = EdfsShell(spark, str(tmp_path_factory.mktemp("wh")))
    srv, _thread = start_server(shell)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


@pytest.fixture(scope="module")
def nation_csv(spark, sf_dir):
    path = os.path.join(SCRATCH, "nation.csv")
    os.makedirs(SCRATCH, exist_ok=True)
    load_table(spark, sf_dir, "nation").toPandas().to_csv(path, index=False)
    return path


def get(base, route, status=200, **params):
    url = f"{base}/{route}"
    if params:
        url += "?" + urllib.parse.urlencode(params)
    try:
        with urllib.request.urlopen(url) as resp:
            assert resp.status == status
            body = json.load(resp)
    except urllib.error.HTTPError as e:  # 404 case still carries JSON
        assert e.code == status
        body = json.load(e)
    assert set(body) == {"response", "status"}  # the reference envelope
    return body


def test_full_session_over_http(server, nation_csv):
    assert get(server, "mkdir", path="/data")["status"] == "EDFS200"
    assert (
        get(server, "mkdir", path="/data")["status"] == "EDFS400"
    )  # File exists

    out = get(
        server,
        "put",
        source=nation_csv,
        destination="/data/nation.csv",
        partitions=4,
        hash="n_regionkey",
    )
    assert out["status"] == "EDFS200"

    ls = get(server, "ls", path="/data")
    assert ls["status"] == "EDFS200" and "nation.csv" in ls["response"]

    cat = get(server, "cat", path="/data/nation.csv")
    rows = list(csv.DictReader(io.StringIO(cat["response"])))
    assert len(rows) == 25

    locs = get(server, "getPartitionLocations", path="/data/nation.csv")
    assert locs["status"] == "EDFS200" and len(locs["response"]) >= 1

    part = get(server, "readPartition", path="/data/nation.csv", partition=1)
    n_part = len(list(csv.DictReader(io.StringIO(part["response"]))))
    assert 0 < n_part < 25

    avg = get(server, "getAvg", path="/data/nation.csv", col="n_regionkey")
    assert avg["status"] == "EDFS200"
    assert avg["response"]["result"] == "The overall average is 2.000"

    mx = get(
        server,
        "getMax",
        path="/data/nation.csv",
        col="n_nationkey",
        debug="true",
    )
    assert mx["status"] == "EDFS200" and "partitions" in mx["response"]

    # hash given WITHOUT debug: the positional gap must be defaulted
    mn = get(
        server, "getMin", path="/data/nation.csv", col="n_nationkey", hash="1"
    )
    assert mn["status"] == "EDFS200"

    assert get(server, "rm", path="/data/nation.csv")["status"] == "EDFS200"
    assert get(server, "rm", path="/data")["status"] == "EDFS200"


def test_concurrent_cold_aggregates_agree(server, nation_csv, monkeypatch):
    """8 requests race to resolve one table's handle and map its partials
    on a fresh version; the map step runs once and every request answers
    as a serial run does."""
    from concurrent.futures import ThreadPoolExecutor

    from dsci551_edfs_spark import catalog

    maps = []
    monkeypatch.setattr(
        catalog, "map_partials", lambda df, *a: maps.append(1) or map_partials(df, *a)
    )

    out = get(
        server,
        "put",
        source=nation_csv,
        destination="/conc/nation.csv",
        partitions=4,
        hash="n_regionkey",
    )
    assert out["status"] == "EDFS200"

    requests = [
        ("getAvg", {"col": "n_nationkey"}),
        ("getMax", {"col": "n_nationkey", "debug": "true"}),
        ("getMin", {"col": "n_nationkey", "hash": "3"}),
        ("getPartitionLocations", {}),
    ] * 2

    def one(i):
        route, params = requests[i]
        return get(server, route, path="/conc/nation.csv", **params)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the handler threads finely
    try:
        with ThreadPoolExecutor(8) as pool:
            futures = [pool.submit(one, i) for i in range(8)]
            outs = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert [o["status"] for o in outs] == ["EDFS200"] * 8
    assert len(maps) == 1
    assert outs == [one(i) for i in range(8)]
    assert outs[0]["response"]["result"] == "The overall average is 12.000"
    assert outs[1]["response"]["result"] == "The overall maximum is 24.000"
    assert sum(p["size"] for p in outs[1]["response"]["partitions"]) == 25
    locations = outs[3]["response"]["partitions"].values()
    assert sum(p["rows"] for p in locations) == 25


def test_decimal_debug_partials_answer_an_envelope(spark, tmp_path):
    """A `debug=true` aggregate over a decimal column carries `Decimal`
    partials; the handler encodes them as strings, as the CLI prints
    them, instead of dropping the connection mid-response."""
    from decimal import Decimal

    from dsci551_edfs_spark.sources.ingest import put_dataframe

    shell = EdfsShell(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(1, Decimal("1.25")), (2, Decimal("3.50"))], "id int, price decimal(10,2)"
    )
    put_dataframe(df, shell.catalog.table_path("/dec/t"), 2, "id")
    srv, _thread = start_server(shell)
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        out = get(base, "getAvg", path="/dec/t", col="price", debug="true")
    finally:
        srv.shutdown()
    assert out["status"] == "EDFS200"
    partials = [p["partial"] for p in out["response"]["partitions"]]
    assert len(partials) == 2 and all(isinstance(p, str) for p in partials)
    expected = shell.run("getAvg", ["/dec/t", "price", "true"])
    assert out == json.loads(json.dumps(expected, default=str))


def test_firebase_alias_family(server, nation_csv):
    assert get(server, "firebase_mkdir", path="/fb")["status"] == "EDFS200"
    out = get(
        server,
        "firebase_put",
        source=nation_csv,
        destination="/fb/nation.csv",
        partitions=2,
    )
    assert out["status"] == "EDFS200"
    cat = get(server, "firebase_cat", path="/fb/nation.csv")
    assert len(list(csv.DictReader(io.StringIO(cat["response"])))) == 25
    # hardcoded-column endpoint: column bound server-side; nation.csv has
    # no MGDCGSZ, so the pre-flight validation answers EDFS400
    hard = get(server, "firebase_getAvgGripStrn", path="/fb/nation.csv")
    assert hard["status"] == "EDFS400"


def test_error_envelopes(server):
    assert get(server, "cat", path="/nope.csv")["status"] == "EDFS400"
    missing = get(server, "getAvg", path="/x.csv")  # col absent
    assert missing["status"] == "EDFS400" and "col" in missing["response"]
    unknown = get(server, "frobnicate", status=404, path="/x")
    assert unknown["status"] == "EDFS400"


def test_engine_extension_routes(server):
    """/query and /queries — the shell's engine extensions served over
    HTTP: list the registry, run one registered query bounded."""
    listing = get(server, "queries")
    assert listing["status"] == "EDFS200"
    assert "pmr_avg" in listing["response"]
    out = get(
        server, "query", name="pmr_avg", sf_dir="/root/testdata/sf0.001"
    )
    assert out["status"] == "EDFS200"
    assert out["response"].splitlines()[0] == "avg_qty"
    bad = get(server, "query", name="no_such_query")
    assert bad["status"] == "EDFS400"


def test_query_limit_without_sf_dir(server):
    """limit supplied but sf_dir omitted: the positional fill must inject
    the shell's documented default sf_dir, not an empty string."""
    out = get(server, "query", name="pmr_avg", limit="5")
    assert out["status"] == "EDFS200"
    assert out["response"].splitlines()[0] == "avg_qty"


def test_every_row_emitting_route_is_bounded(server):
    """Facade lint: no route may materialize unbounded results on the
    driver — /query defaults to limit=20, and the CSV emitters
    (cat/readPartition) stream through EdfsShell.max_csv_rows. Guards
    the 100 TB posture of the facade: a client cannot make the driver
    buffer a full table."""
    from dsci551_edfs_spark.cli import EdfsShell

    out = get(server, "query", name="edfs_cat_roundtrip")
    assert out["status"] == "EDFS200"
    # header + at most 20 data rows (default limit)
    assert len(out["response"].splitlines()) <= 21
    assert EdfsShell.max_csv_rows <= 100_000  # cat/readPartition cap


def test_concurrent_query_dispatch(server):
    """8 parallel /query clients: all answer EDFS200 envelopes — the
    stdlib ThreadingHTTPServer serializes nothing at the HTTP layer
    (each request runs in its own thread; Spark's scheduler handles the
    query parallelism). Wall-clock probe recorded in SCALE.md."""
    from concurrent.futures import ThreadPoolExecutor

    def one(_):
        return get(server, "query", name="pmr_avg", limit="5")["status"]

    with ThreadPoolExecutor(max_workers=8) as ex:
        statuses = list(ex.map(one, range(8)))
    assert statuses == ["EDFS200"] * 8


def test_engine_exception_becomes_edfs500_envelope(server):
    """An engine exception outside the shell's whitelist (here: an
    AnalysisException from a nonexistent parquet dir) must still answer
    a JSON envelope over HTTP 200, never a dropped connection."""
    out = get(server, "query", name="pmr_avg", sf_dir="/no/such/dir")
    assert out["status"] in ("EDFS400", "EDFS500")
    assert out["response"]  # carries the engine error class + summary
    # sanitized envelope (r9): class name + truncated FIRST line only —
    # Py4J/AnalysisException texts embed paths and plan trees that have
    # no business crossing a network boundary
    assert "\n" not in out["response"]
    assert len(out["response"]) <= 250


def test_main_serves_get_spark_session_and_cli_warehouse(
    spark, tmp_path, monkeypatch
):
    """`python -m dsci551_edfs_spark.http_api` takes its session from
    `session.get_spark` (UTC pin, AQE, partition-type inference off —
    the settings `cli.main` and the tests run with) and defaults its
    warehouse to the CLI's `<scratch root>/warehouse`."""
    from dsci551_edfs_spark import http_api

    apps, shells = [], []

    def fake_get_spark(app_name="edfs-spark", extra_conf=None):
        apps.append(app_name)
        return spark

    class Server:
        server_address = ("127.0.0.1", 0)

        def serve_forever(self):
            raise KeyboardInterrupt

    def fake_make_server(shell, host, port):
        shells.append(shell)
        return Server()

    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path))
    monkeypatch.setattr(http_api, "get_spark", fake_get_spark)
    monkeypatch.setattr(http_api, "make_server", fake_make_server)
    assert http_api.main([]) == 0
    assert apps == ["edfs-http"]
    (shell,) = shells
    assert shell.spark is spark
    assert shell.catalog.warehouse == str(tmp_path / "warehouse")
