"""Print the statistics of a fixture directory that ``gen.py`` copies.

    python3 perfbench/fixture_stats.py <dir holding events.parquet, orders.parquet,
                                        documents.parquet and embeddings.parquet>

The generator cannot read the fixtures when the benchmark runs, so it
carries the figures this script prints (see ``gen.FIXTURE``). Run it
again after the fixtures change and update ``gen.FIXTURE`` to match.
"""

from __future__ import annotations

import json
import sys

import duckdb


def stats(d: str) -> dict:
    con = duckdb.connect()
    q = lambda sql: con.execute(sql.format(d=d)).fetchall()  # noqa: E731
    one = lambda sql: q(sql)[0]  # noqa: E731
    ev = "read_parquet('{d}/events.parquet')"
    od = "read_parquet('{d}/orders.parquet')"
    dc = "read_parquet('{d}/documents.parquet')"
    em = "read_parquet('{d}/embeddings.parquet')"
    out = {}

    n, users, umin, umax, vmean, vmax, kmin, kmax, span_s = one(
        f"SELECT count(*), count(DISTINCT user_id), min(user_id), max(user_id), avg(value), "
        f"max(value), min((props->>'k')::INT), max((props->>'k')::INT), "
        f"epoch(max(ts)) - epoch(min(ts)) FROM {ev}"
    )
    per_user = q(f"SELECT count(*) AS c FROM {ev} GROUP BY user_id ORDER BY c DESC")
    counts = [c for (c,) in per_user]
    top = max(1, len(counts) // 100)
    out["events"] = {
        "rows": n, "distinct_users": users, "user_id_range": [umin, umax],
        "per_user_max": counts[0], "per_user_mean": round(n / users, 2),
        "top1pct_user_share": round(sum(counts[:top]) / n, 4),
        "event_type_share": {t: round(c / n, 4) for t, c in q(f"SELECT event_type, count(*) FROM {ev} GROUP BY 1 ORDER BY 1")},
        "value_mean": round(vmean, 2), "value_max": vmax, "props_k_range": [kmin, kmax],
        "ts_span_days": round(span_s / 86400, 2),
    }

    n, cust, cmin, cmax = one(f"SELECT count(*), count(DISTINCT o_custkey), min(o_custkey), max(o_custkey) FROM {od}")
    out["orders"] = {
        "rows": n, "distinct_custkeys": cust, "custkey_range": [cmin, cmax],
        "priority_share": {p: round(c / n, 4) for p, c in q(f"SELECT o_orderpriority, count(*) FROM {od} GROUP BY 1 ORDER BY 1")},
    }

    n, wmin, wmax, wmean, multi, distinct_text = one(
        f"SELECT count(*), min(len(string_split(text, ' '))), max(len(string_split(text, ' '))), "
        f"avg(len(string_split(text, ' '))), avg((text LIKE '%' || chr(10) || '%')::INT), "
        f"count(DISTINCT text) FROM {dc}"
    )
    tokens = q(
        f"SELECT t, count(*) AS c FROM (SELECT unnest(string_split(replace(text, chr(10), ' '), ' ')) AS t "
        f"FROM {dc}) GROUP BY t ORDER BY c DESC, t"
    )
    total = sum(c for _, c in tokens)
    out["documents"] = {
        "rows": n, "words_min": wmin, "words_max": wmax, "words_mean": round(wmean, 2),
        "multiline_share": round(multi, 4), "distinct_texts": distinct_text,
        "vocabulary": len(tokens),
        "token_share_max": round(tokens[0][1] / total, 4), "token_share_min": round(tokens[-1][1] / total, 4),
        "lang_share": {x: round(c / n, 4) for x, c in q(f"SELECT lang, count(*) FROM {dc} GROUP BY 1 ORDER BY 1")},
        "sources": one(f"SELECT count(DISTINCT source) FROM {dc}")[0],
    }

    n, dim, labels = one(f"SELECT count(*), max(len(embedding)), count(DISTINCT label) FROM {em}")
    out["embeddings"] = {"rows": n, "dim": dim, "labels": labels}
    con.close()
    return out


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(json.dumps(stats(sys.argv[1]), indent=1))
