"""S8 graph-report layer: series parity against the reference's own
golden CSVs (Sample_Inputs) + valid-PNG output from the built-in
renderer. Pixels are NOT compared (renderer-dependent); the series
are the contract, per the reference's make_graph(xs, ys) call sites.
"""

from __future__ import annotations

import csv
import struct
import zlib

import pytest
from pyspark.sql import functions as F

from cdr_analysis_tools_hadoop_spark import reports
from cdr_analysis_tools_hadoop_spark.operators import prepare
from cdr_analysis_tools_hadoop_spark.sources import csv_io


@pytest.fixture(scope="module")
def sample_cdr(spark, reference_dir):
    raw = csv_io.read_csv_all_string(
        spark,
        f"{reference_dir}/Sample_Inputs/cdr_sample.csv",
        ["SUBID", "CDATE", "CTIME", "DURATION", "CELLID",
         "LATITUDE", "LONGITUDE", "network_type", "call_type"],
        header=True,
    )
    mapping = [
        {"name": "UID", "expr": "SUBID"},
        {"name": "CALL_TIME", "custom": "CONCAT(CDATE, ' ', CTIME)"},
        {"name": "DURATION", "expr": "DURATION"},
        {"name": "CELL_ID", "expr": "CELLID"},
        {"name": "LATITUDE", "expr": "LATITUDE"},
        {"name": "LONGITUDE", "expr": "LONGITUDE"},
        {"name": "NETWORK_TYPE", "expr": "network_type"},
        {"name": "CALL_TYPE", "expr": "call_type"},
    ]
    proj = prepare.compile_projection(
        mapping, prepare.CDR_COLUMNS, faithful=True,
        time_format="yyyyMMdd H:mm:ss",
    )
    out = prepare.preprocess(raw, proj)
    return out.withColumn("call_time", F.to_timestamp("call_time"))


@pytest.fixture(scope="module")
def series(sample_cdr):
    return reports.graph_series(sample_cdr)


def _golden_all_rows(goldens):
    with open(f"{goldens}/css_provider_data_stat_daily.csv", newline="") as f:
        rows = [r for r in csv.reader(f) if r]
    hdr = rows[0]
    out = {}
    for r in rows[1:]:
        d = dict(zip(hdr, r))
        if d["call_type"] == "ALL" and d["network_type"] == "ALL":
            out[d["date"]] = d
    return out


def test_daily_series_match_reference_goldens(series, goldens):
    """The three count series equal the golden daily CSV's ALL/ALL
    rows (values parsed from the reference's file, not re-hardcoded)."""
    g = _golden_all_rows(goldens)
    want_days = sorted(g)
    for name, col in [
        ("daily_cdrs", "total_records"),
        ("daily_unique_users", "unique_id"),
    ]:
        s = series[name]
        assert s["xs"] == want_days, name
        assert s["series"]["ALL"] == [float(g[d][col]) for d in want_days], name
    # avg cdrs per uid = total_records / unique_id of the ALL/ALL row
    s = series["daily_avg_cdr"]
    assert s["xs"] == want_days
    for got, d in zip(s["series"]["ALL"], want_days):
        want = round(int(g[d]["total_records"]) / int(g[d]["unique_id"]), 6)
        assert got == want


def test_descriptor_stats(series):
    des = series["daily_cdrs"]["des"]
    ys = series["daily_cdrs"]["series"]["ALL"]
    assert des["Total Records"] == sum(ys) == 17  # golden total
    assert des["MIN"] == min(ys) and des["MAX"] == max(ys)


def test_call_type_series_sum_to_all(series):
    s = series["daily_cdr_by_call_type"]
    per_type = [t for t in s["series"] if t != "ALL"]
    for i in range(len(s["xs"])):
        assert sum(s["series"][t][i] for t in per_type) == s["series"]["ALL"][i]


def test_all_seven_graphs_written_as_valid_png(sample_cdr, tmp_path):
    paths = reports.write_report_graphs(sample_cdr, str(tmp_path))
    assert sorted(p.rsplit("/", 1)[1] for p in paths) == sorted(
        ["daily_cdrs.png", "daily_unique_users.png",
         "daily_unique_locations.png", "daily_avg_cdr.png",
         "daily_unique_avg_locations.png", "daily_cdr_by_call_type.png",
         "user_data_histogram.png"]
    )
    for p in paths:
        blob = open(p, "rb").read()
        assert blob[:8] == b"\x89PNG\r\n\x1a\n"
        # IHDR parses and dims are sane
        assert blob[12:16] == b"IHDR"
        w, h = struct.unpack(">II", blob[16:24])
        assert w > 0 and h > 0
        # IDAT inflates to h * (1 + w*3) filter-0 scanlines (builtin
        # renderer) OR is at least a valid zlib stream (matplotlib)
        idat_at = blob.index(b"IDAT")
        (length,) = struct.unpack(">I", blob[idat_at - 4 : idat_at])
        raw = zlib.decompress(blob[idat_at + 4 : idat_at + 4 + length])
        assert len(raw) == h * (1 + w * 3)


def test_descriptor_pairs_match_reference_call_sites(series):
    """Each graph's des_pairs reproduce the reference make_graph call
    sites exactly — texts (incl. the reference's own trailing space),
    transAxes x positions, and value semantics
    (Common/cdr_statistics.py:575-581, 625-631, 679-688, 721-724,
    761-767)."""
    def spec(name):
        return [(p["text"], p["text_x"], p["text_y"])
                for p in series[name]["des_pairs"]]

    assert spec("daily_cdrs") == [
        ("MIN", 0.090, 1.27), ("MAX", 0.345, 1.27), ("AVG", 0.595, 1.27),
        ("Total Records", 0.83, 1.27)]
    assert spec("daily_unique_users") == [
        ("MIN", 0.090, 1.27), ("MAX", 0.345, 1.27), ("AVG", 0.595, 1.27),
        ("Total Unique IDs", 0.805, 1.27)]
    assert spec("daily_unique_locations") == [
        ("MIN", 0.090, 1.27), ("MAX", 0.345, 1.27), ("AVG", 0.595, 1.27),
        ("Total Unique Locations", 0.805, 1.27)]
    assert spec("daily_avg_cdr") == [("Total Daily Avg CDRs", 0.035, 1.27)]
    assert spec("daily_unique_avg_locations") == [
        ("Avg Daily Unique Cell IDs ", 0.00, 1.27),
        ("Avg Daily Unique Locations", 0.28, 1.27)]

    # value semantics: totals are whole-period distincts, not sums of
    # the daily series; the averaging graphs carry series means
    ys = series["daily_unique_users"]["series"]["ALL"]
    total_ids = series["daily_unique_users"]["des_pairs"][3]["value"]
    assert total_ids <= sum(ys)  # distinct-over-period <= sum of dailies
    avg_pair = series["daily_avg_cdr"]["des_pairs"][0]["value"]
    assert avg_pair == pytest.approx(sum(series["daily_avg_cdr"]["series"]["ALL"])
                                     / len(series["daily_avg_cdr"]["series"]["ALL"]))
    # per-graph axis labels (Day on daily_cdrs, Date elsewhere,
    # Active Day Bins on the histogram)
    assert series["daily_cdrs"]["xlabel"] == "Day"
    assert series["daily_unique_users"]["xlabel"] == "Date"
    assert series["user_data_histogram"]["xlabel"] == "Active Day Bins"


def test_by_call_type_plot_order_matches_reference(series):
    """The rendered line order folds VOICE+SMS into the reference's
    third legend entry (cdr_statistics.py:152-159)."""
    plot = reports._plot_series(series["daily_cdr_by_call_type"])
    labels = [label for label, _ in plot]
    if set(series["daily_cdr_by_call_type"]["series"]) <= {
        "ALL", "DATA", "VOICE", "SMS"
    }:
        assert labels == ["ALL", "DATA", "VOICE and SMS"]
        # folded series preserves the per-day sum
        s = series["daily_cdr_by_call_type"]["series"]
        folded = dict(plot)
        for i in range(len(series["daily_cdr_by_call_type"]["xs"])):
            assert folded["DATA"][i] + folded["VOICE and SMS"][i] == s["ALL"][i]
    else:  # generic corpora keep per-type lines
        assert labels == sorted(series["daily_cdr_by_call_type"]["series"])
