"""Python client (`zed_spark.client`) against a live QueryService on
loopback: pool creation, an ndjson load and a query whose ZJSON result
decodes to native Python values."""

from datetime import datetime, timezone

import pytest

from zed_spark.client import Client, RequestError
from zed_spark.service import QueryService


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("client")
    s = QueryService(spark, lake_root=str(work / "lake"))
    port = s.start()
    c = Client(f"http://127.0.0.1:{port}", config_dir=str(work))
    yield c
    c.session.close()
    s.stop()


def test_create_load_query_decodes_native_values(client):
    client.create_pool("p")
    client.load(
        "p",
        b'{"ts":"2024-01-02T03:04:05Z","x":1.5,"s":"a"}\n'
        b'{"ts":"2024-01-02T03:04:06Z","x":-2.25,"s":"b"}\n',
        commit_author="test",
    )
    rows = list(client.query("from p | put t:=time(ts) | sort t | cut t, x, s"))
    assert rows == [
        {"t": datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc), "x": 1.5, "s": "a"},
        {"t": datetime(2024, 1, 2, 3, 4, 6, tzinfo=timezone.utc), "x": -2.25, "s": "b"},
    ]


def test_error_raises_request_error(client):
    with pytest.raises(RequestError, match="pool not found"):
        client.query("from nope")
