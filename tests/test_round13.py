"""Round-13 pins: the five ADVICE r12 findings, each fixed and
regression-tested here.

1. `submit_idempotent` canonicalizes each map's features (sorted by
   id, null first, then by feature text) before serializing — a
   redelivered batch whose collect() order differs must still
   produce the byte-identical body and therefore the identical
   Idempotency-Key.
2. `post_idempotent` fails FAST on deterministic 4xx client errors
   (everything except 408/429): retrying a 400 delays the loud
   failure by the whole backoff schedule inside an executor for a
   guaranteed-identical outcome.  5xx and 408/429 stay retryable.
3. `tools/bench_ab.py --json` as the LAST argument prints usage and
   exits 2 instead of raising IndexError.
4. `llm/dedup.py` documents the localCheckpoint executor-loss
   tradeoff (doc-only; not pinned here).
5. HANDOFF.md wording fix (doc-only; not pinned here).
"""

from __future__ import annotations

import json
import subprocess
import sys
import urllib.error

import pytest
from conftest import strict_loads
from pyspark.sql import functions as F

from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_df
from etl_caltopo_spark.caltopo.pipeline import run_pipeline
from etl_caltopo_spark.caltopo.sink import post_idempotent, submit_idempotent


class _RecordingPoster:
    """Captures (body, Idempotency-Key) per attempt; can fail the
    first N attempts with a given HTTP status code."""

    def __init__(self, fail_first: int = 0, code: int = 503):
        self.fail_first = fail_first
        self.code = code
        self.attempts: list[tuple[str, str]] = []

    def __call__(self, url: str, body: str, headers: dict) -> None:
        strict_loads(body)
        self.attempts.append((body, headers.get("Idempotency-Key")))
        if len(self.attempts) <= self.fail_first:
            raise urllib.error.HTTPError(url, self.code, "err", None, None)


def test_driver_path_body_is_canonicalized_across_row_order(spark):
    """ADVICE r12 (medium): two submissions of the SAME rows in
    different collect() orders must serialize byte-identically —
    otherwise a redelivery carries a different key and double-submits.
    That holds with a repeated id (ordered by the feature text after
    the id) and with a null id (first)."""
    out = run_pipeline(fixture_envelope_df(spark))
    out = out.unionByName(
        out.filter("id IN ('F1', 'F3a')").selectExpr(
            "CASE WHEN id = 'F1' THEN NULL ELSE 'F5' END AS id",
            *[c for c in out.columns if c != "id"],
        )
    )
    asc = _RecordingPoster()
    desc = _RecordingPoster()
    n1 = submit_idempotent(
        out.orderBy("id", "callsign"), "http://x/submit", asc, backoff_s=0.001
    )
    n2 = submit_idempotent(
        out.orderBy(F.desc("id"), F.desc("callsign")),
        "http://x/submit",
        desc,
        backoff_s=0.001,
    )
    assert n1 == n2 == 16
    assert asc.attempts[0] == desc.attempts[0]  # same body, same key
    feats = json.loads(asc.attempts[0][0])["features"]
    ids = [f["id"] for f in feats]
    assert ids[0] is None
    assert ids[1:] == sorted(ids[1:])
    assert ids.count("F5") == 2


def test_post_idempotent_fails_fast_on_deterministic_4xx():
    """A 400 is deterministic: every retry fails identically — the
    error must surface after exactly ONE attempt."""
    p = _RecordingPoster(fail_first=99, code=400)
    with pytest.raises(urllib.error.HTTPError):
        post_idempotent(p, "http://x", "{}", max_retries=4, backoff_s=0.001)
    assert len(p.attempts) == 1


@pytest.mark.parametrize("code", [408, 429, 503])
def test_post_idempotent_retries_transient_codes(code):
    """408/429 (transient client) and 5xx keep the bounded-retry
    behavior: two failures, then success on the third attempt."""
    p = _RecordingPoster(fail_first=2, code=code)
    key = post_idempotent(p, "http://x", "{}", max_retries=4, backoff_s=0.001)
    assert len(p.attempts) == 3
    # the SAME key on every attempt — the redelivery contract
    assert {k for _, k in p.attempts} == {key}


def test_bench_ab_json_flag_without_value_exits_usage():
    """--json as the last argument must print usage and exit 2, not
    raise IndexError."""
    r = subprocess.run(
        [sys.executable, "tools/bench_ab.py", "--json"],
        capture_output=True,
        text=True,
        cwd="/root/repo",
        timeout=60,
    )
    assert r.returncode == 2
