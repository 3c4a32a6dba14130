"""``KeyedQuery`` joins the keys and links with ``left_semi`` and no
``distinct``: duplicates on the right side must not change the rows, and
the plan must carry no aggregate or shuffle for them."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from python_async_sample_spark.api.scatter_gather import KeyedQuery


def _fixture(tmp_path, rng):
    """History with duplicate (key, link) rows, a result with unique ids and
    several rows per link, a summary with repeated links, and keys with
    duplicates, written as parquet so the planner sees file sizes."""
    hist_k = rng.integers(0, 50, 600)
    hist_link = rng.integers(0, 200, 600)
    hist_k, hist_link = np.concatenate([hist_k, hist_k[:200]]), np.concatenate(
        [hist_link, hist_link[:200]]
    )
    res_link = rng.integers(0, 220, 1_500)
    res_id = np.arange(res_link.size)
    summ_link = rng.choice(np.arange(0, 220, 2), 300)
    keys = np.concatenate([rng.integers(0, 60, 30), rng.integers(0, 60, 10)])
    tables = {
        "history": {"k": hist_k, "link": hist_link},
        "result": {"link": res_link, "id": res_id},
        "summary": {"link": summ_link},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), str(tmp_path / f"{name}.parquet"))
    return tables, keys


def _query(spark, tmp_path, keys):
    history, result, summary = (
        spark.read.parquet(str(tmp_path / f"{n}.parquet")) for n in ("history", "result", "summary")
    )
    api = KeyedQuery(history=history, result=result, key_col="k", link_cols=["link"])
    keys_df = spark.createDataFrame([(int(k),) for k in keys], "k bigint")
    return api.glass_raw_data(keys_df, summary=summary)


def test_duplicate_keys_and_links_match_numpy_reference(spark, tmp_path):
    tables, keys = _fixture(tmp_path, np.random.default_rng(7))
    h, r, s = tables["history"], tables["result"], tables["summary"]
    links = np.unique(h["link"][np.isin(h["k"], keys)])
    keep = np.isin(r["link"], links) & np.isin(r["link"], s["link"])
    want = sorted(zip(r["link"][keep].tolist(), r["id"][keep].tolist()))
    assert len(want) > 20  # the fixture exercises the duplicate paths

    got = sorted((row.link, row.id) for row in _query(spark, tmp_path, keys).collect())
    assert got == want
    assert len(set(got)) == len(got)


def test_plan_has_no_aggregate_or_shuffle(spark, tmp_path):
    _, keys = _fixture(tmp_path, np.random.default_rng(8))
    out = _query(spark, tmp_path, keys)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "HashAggregate" not in plan
    assert "hashpartitioning" not in plan
