"""Independent reference state for the benchmark's correctness checks.

The spec is the one ``cdc.events.naive_replay`` documents: per url, the
event with the greatest ``(warc_ts, lsn)`` among the applied events wins,
and a winning delete hides the url.  It is computed here with pandas over
the generated log, without calling engine code, and compared on the
winner's ``lsn`` plus the columns that travel with it.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F

COLS = ["url", "lsn", "warc_ts", "lang", "h"]


def narrow_log(log_df) -> pd.DataFrame:
    """The log with the html payload replaced by its md5 (``h``)."""
    h = F.md5("html") if "html" in log_df.columns else F.lit(None).cast("string")
    return log_df.select("lsn", "op", "url", "warc_ts", "lang", h.alias("h")).toPandas()


def expected(log: pd.DataFrame, lsn_hi: int, keys=None) -> pd.DataFrame:
    """Visible rows after applying every event with ``lsn <= lsn_hi``,
    indexed by url."""
    d = log[log["lsn"] <= lsn_hi]
    if keys is not None:
        d = d[d["url"].isin(keys)]
    d = d.sort_values(["warc_ts", "lsn"]).drop_duplicates("url", keep="last")
    return d[d["op"] != "delete"].set_index("url")[COLS[1:]]


def table_rows(table) -> pd.DataFrame:
    df = table.read()
    h = F.md5("html") if "html" in df.columns else F.lit(None).cast("string")
    return (
        df.select("url", "lsn", "warc_ts", "lang", h.alias("h"))
        .toPandas()
        .set_index("url")
    )


def rows_frame(rows) -> pd.DataFrame:
    """Collected Spark rows (e.g. a lookup's) in ``table_rows`` form."""
    recs = []
    for r in rows:
        d = r.asDict()
        html = d.get("html")
        recs.append(
            {
                "url": d["url"],
                "lsn": d["lsn"],
                "warc_ts": pd.Timestamp(d["warc_ts"]),
                "lang": d["lang"],
                "h": hashlib.md5(bytes(html)).hexdigest() if html is not None else None,
            }
        )
    return pd.DataFrame(recs, columns=COLS).set_index("url")


def mismatches(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Rows missing, extra or differing in any compared column."""
    if got.index.has_duplicates:
        return int(got.index.duplicated().sum()) + mismatches(
            got[~got.index.duplicated()], want
        )
    both = got.index.intersection(want.index)
    bad = len(got.index.difference(want.index)) + len(want.index.difference(got.index))
    g = got.loc[both, COLS[1:]].sort_index()
    w = want.loc[both, COLS[1:]].sort_index()
    differ = ~((g == w) | (g.isna() & w.isna())).all(axis=1)
    return bad + int(differ.sum())


def text_mismatches(table, sample: int = 32) -> tuple[int, int]:
    """Extracted ``text`` vs ``extract_text(html)`` on a sample of live
    rows, byte for byte.  Returns (checked, mismatched)."""
    from realdeal_spark.extract.html_text import extract_text

    rows = (
        table.read()
        .where(F.pmod(F.xxhash64("url"), F.lit(16)) == 0)
        .select("html", "text")
        .limit(sample)
        .collect()
    )
    bad = sum(1 for r in rows if extract_text(r["html"]) != r["text"])
    return len(rows), bad
