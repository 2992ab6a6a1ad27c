"""End-to-end user workflow: ventas.csv -> forecast -> results CSV ->
report, matching the reference's PRACTICA3+generador flow including the
stringified-array CSV round trip and garbage-input coercion."""

import numpy as np
import pandas as pd
import pytest

from dataframe_retail_e_inventarios_spark.plans.pipeline import (
    build_report,
    forecast_inventory,
    load_ventas,
    read_results_csv,
    write_results_csv,
)
from tests.conftest import SF_SMOKE
from tests.test_flagship_differential import reference_process_sku


@pytest.fixture(scope="module")
def ventas_csv(tmp_path_factory):
    """Reference-shaped ventas.csv from lineitem, with garbage Quantity
    rows (exercises to_numeric(errors='coerce'), PRACTICA3.py:193)."""
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    df = pd.DataFrame(
        {
            "InvoiceDate": li["l_shipdate"],
            "StockCode": li["l_partkey"].astype(str),
            "Country": li["l_suppkey"].astype(str),
            "Quantity": li["l_quantity"].astype(str),
        }
    )
    df.loc[df.index[::500], "Quantity"] = "garbage"  # -> coerced to 0
    path = tmp_path_factory.mktemp("ventas") / "ventas.csv"
    df.to_csv(path, index=False)
    return str(path)


@pytest.fixture(scope="module")
def reference_results(ventas_csv):
    """The reference's own flow in pandas over the same CSV."""
    df = pd.read_csv(ventas_csv, parse_dates=["InvoiceDate"])
    df = df.rename(columns={"StockCode": "Product_ID", "Country": "Store_ID", "Quantity": "Units_Sold"})
    df["Units_Sold"] = pd.to_numeric(df["Units_Sold"], errors="coerce").fillna(0)
    df = df[df["Units_Sold"] >= 0]
    out = {}
    for key, g in df.groupby(["Product_ID", "Store_ID"]):
        r = reference_process_sku(g[["InvoiceDate", "Units_Sold"]])
        if r is not None:
            out[(str(key[0]), str(key[1]))] = r
    return out


def test_csv_pipeline_matches_reference(spark, ventas_csv, reference_results, tmp_path):
    sales = load_ventas(spark, ventas_csv)
    results = forecast_inventory(sales)
    got = {(r.SKU, r.Store): r for r in results.collect()}
    assert set(got) == set(reference_results)
    for key, exp in reference_results.items():
        g = got[key]
        assert g.Safety_Stock == exp["safety_stock"], key
        assert g.Reorder_Point == exp["reorder_point"], key
        assert g.Qty_to_Order == exp["qty_to_order"], key
        assert abs(g.MAPE - exp["mape"]) <= 1e-6, key
        assert len(g.Forecast) == 4 and len(g.Test) == 4

    # CSV round trip: arrays stringify like pandas to_csv, re-parse in
    # the report chain (generador.py:46-69).
    out = str(tmp_path / "results_csv")
    write_results_csv(results, out)
    reloaded = read_results_csv(spark, out)
    report = build_report(reloaded)
    rep = report.toPandas().set_index(["StockCode", "StoreID"])
    assert len(rep) == len(reference_results)
    one = rep.iloc[0]
    assert one["Forecast_Weeks"] == 4
    assert one["banda"] in ("alta precision", "aceptable", "baja precision")
    assert "RECOMENDACION CLAVE" in one["pedido"]
    # Forecast_Total survives the string round trip: sum of 4 copies of
    # the weekly forecast, integer-rounded (generador.py:59,83-84).
    for key, exp in reference_results.items():
        total = rep.loc[key, "Forecast_Total"]
        assert abs(total - round(4 * exp["forecast_wk"])) <= 1, key


def test_jsonl_documents_roundtrip(spark, tmp_path):
    """JSONL source/sink: documents written as JSONL and re-read with
    an explicit schema must be byte-identical (text, lang, ids) —
    arrays/nulls survive without a stringify round trip."""
    from dataframe_retail_e_inventarios_spark.sources.readers import (
        load_table,
        read_jsonl,
    )
    from dataframe_retail_e_inventarios_spark.sources.writers import write_jsonl

    docs = load_table(spark, SF_SMOKE, "documents").limit(100)
    path = str(tmp_path / "docs_jsonl")
    write_jsonl(docs, path)
    back = read_jsonl(spark, path, docs.schema)
    a = docs.toPandas().sort_values("doc_id", ignore_index=True)
    b = back.toPandas().sort_values("doc_id", ignore_index=True)
    assert a.equals(b[a.columns])


def test_udf_path_same_schema(spark, ventas_csv):
    sales = load_ventas(spark, ventas_csv)
    native = forecast_inventory(sales, use_models=False)
    udf = forecast_inventory(sales, use_models=True)
    assert [f.name for f in udf.schema.fields] == [f.name for f in native.schema.fields]


def test_udf_path_csv_report_roundtrip(spark, ventas_csv, tmp_path):
    """The models-path results go through the same CSV sink and report
    chain as the native ones: the CSV schema is applied by position, so
    an extra result column would be read back as Runtime_sec and
    printed as the processing time."""
    results = forecast_inventory(load_ventas(spark, ventas_csv), use_models=True)
    out = str(tmp_path / "results_csv")
    write_results_csv(results, out)
    reloaded = read_results_csv(spark, out)
    n = results.count()
    assert n > 0
    assert reloaded.count() == n
    assert reloaded.filter("Runtime_sec IS NOT NULL").count() == 0
    assert build_report(reloaded).count() == n


def test_notebook_flow_entry_point(spark):
    """limpieza_de_datos.py as a library call over the events table."""
    from dataframe_retail_e_inventarios_spark.plans.pipeline import notebook_flow
    from dataframe_retail_e_inventarios_spark.sources.readers import load_table

    # The smoke fixture spans exactly 30 days per event type (23 rows
    # after the lag-7 dropna), so the reference-like default
    # holdout_days=30 leaves no train window at all — a leakage-free
    # baseline then correctly predicts nothing. Use a 7-day holdout.
    ev = load_table(spark, SF_SMOKE, "events")
    out = notebook_flow(ev, ["event_type"], "ts", "value", holdout_days=7).toPandas()
    assert len(out) > 0
    assert (out["mae"] >= 0).all()
    # RMSE >= MAE holds for any prediction set (Cauchy-Schwarz).
    assert (out["rmse"] >= out["mae"]).all()


def test_notebook_flow_baseline_is_leakage_free(spark):
    """The seasonal-naive predictions must come only from the last
    pre-holdout week: at most 7 distinct pred values per key, drawn
    from train-slice actuals (never from inside the holdout window)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from dataframe_retail_e_inventarios_spark.operators.resample import (
        daily_resample_sum,
        densify_days,
    )
    from dataframe_retail_e_inventarios_spark.plans import pipeline
    from dataframe_retail_e_inventarios_spark.sources.readers import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    daily = densify_days(
        daily_resample_sum(ev, ["event_type"], "ts", "value")
        .withColumnRenamed("value", "y"),
        ["event_type"],
    )
    w = Window.partitionBy("event_type").orderBy(F.col("ds").desc())
    ranked = daily.withColumn("_rn", F.row_number().over(w)).toPandas()
    # Pandas reimplementation: predict holdout day at recency rank rn
    # from the boundary-week actual (rank rn + 7*ceil(d/7), always in
    # the train slice), then compare per-key MAE with notebook_flow's.
    h = 7
    expected = {}
    for key, g in ranked.groupby("event_type"):
        s = g.set_index("_rn")["y"]
        errs = []
        for rn in range(1, h + 1):
            d = h - rn + 1
            anchor = rn + 7 * -(-d // 7)
            assert anchor > h, "anchor must never fall inside the holdout"
            # lag1/lag7 dropna in notebook_flow only trims the series
            # head (oldest rows), never the holdout — anchors exist
            # whenever the series is long enough.
            if anchor in s.index and rn in s.index:
                errs.append(abs(s[rn] - s[anchor]))
        if errs:
            expected[key] = round(sum(errs) / len(errs), 4)

    out = pipeline.notebook_flow(
        ev, ["event_type"], "ts", "value", holdout_days=h
    ).toPandas()
    got = dict(zip(out["event_type"], out["mae"]))
    for key, exp_mae in expected.items():
        assert key in got
        assert abs(got[key] - exp_mae) < 1e-6, key


def test_rendered_report_document(spark, ventas_csv, reference_results, tmp_path):
    """The literal generador.py:162-215 end of the story: results ->
    enriched report frame -> rendered document (plain text; ReportLab
    absent from this env). Asserts the reference's section structure
    and the exact content of a known SKU's sections."""
    import pyspark.sql.functions as F

    from dataframe_retail_e_inventarios_spark.plans.report import (
        add_report_text,
        prepare_report_input,
    )
    from dataframe_retail_e_inventarios_spark.plans.report_render import (
        render_report,
    )

    sales = load_ventas(spark, ventas_csv)
    results = forecast_inventory(sales)
    out = str(tmp_path / "results_csv")
    write_results_csv(results, out)
    enriched = build_report(read_results_csv(spark, out))

    doc_path = str(tmp_path / "informe.txt")
    doc = render_report(
        enriched, out_path=doc_path, generated_at="2026-08-14 00:00:00"
    )
    with open(doc_path, encoding="utf-8") as f:
        assert f.read() == doc

    # document header [generador.py:176-184]
    assert doc.splitlines()[0] == "Informe de Optimizacion de Inventario"
    assert "Fecha de Generacion: 2026-08-14 00:00:00" in doc
    n = len(reference_results)
    assert f"Se analizaron {n} combinaciones SKU/Tienda." in doc
    assert "MAPE Promedio Global:" in doc

    # one section per SKU, each with the three numbered parts
    assert doc.count("Analisis Detallado de SKU:") == n
    assert doc.count("1. Decision de Pedido:") == n
    assert doc.count("2. Parametros Logisticos:") == n
    assert doc.count("3. Calidad del Pronostico:") == n

    # known-row content: pick one enriched row and check its section
    row = enriched.orderBy("StockCode", "StoreID").limit(1).collect()[0]
    sec = doc.split(f"Analisis Detallado de SKU: {row['StockCode']} en {row['StoreID']}")[1]
    sec = sec.split("Analisis Detallado de SKU:")[0]
    assert f"El punto de reorden (ROP) es de {int(row['Reorder_Point'])} unidades." in sec
    assert f"El stock de seguridad (SS) calculado es de {int(row['Safety_Stock'])} unidades." in sec
    assert (
        f"La demanda pronosticada para las {int(row['Forecast_Weeks'])} semanas "
        f"siguientes es de {int(row['Forecast_Total'])} unidades." in sec
    )
    if row["Need_Reorder"]:
        assert f"pedido de {int(row['Qty_to_Order'])} unidades" in sec
    else:
        assert "No se requiere realizar un pedido inmediato" in sec
    assert f"(MAPE: {float(row['MAPE']):.2f}%)" in sec
    # band sentence matches the engine-computed band column
    band_sentence = {
        "alta precision": "Las predicciones son muy fiables.",
        "aceptable": "Requiere monitorizacion.",
        "baja precision": "demanda intermitente o volatil",
    }[row["banda"]]
    assert band_sentence in sec
    assert f"[{row['banda_color']}]" in sec

    # HTML variant keeps the same content with markup
    html = render_report(enriched, generated_at="2026-08-14 00:00:00", html=True)
    assert "<b>" in html and "<font color=" in html
    assert html.count("Analisis Detallado de SKU:") == n

    # non-default band edges: a MAPE of 15 is "alta precision" under
    # band_lo=20, and the sentence must agree with the printed color
    prepared = prepare_report_input(read_results_csv(spark, out))
    shifted = add_report_text(
        prepared.withColumn("MAPE", F.lit(15.0)), band_lo=20, band_hi=60
    )
    doc20 = render_report(shifted, generated_at="2026-08-14 00:00:00")
    assert doc20.count("Las predicciones son muy fiables.") == n
    assert doc20.count("(MAPE: 15.00%)") == n
    assert doc20.count("[green]") == n
    assert "Requiere monitorizacion." not in doc20


def test_missing_input_path_raises_path_not_found(spark, tmp_path):
    from pyspark.errors import AnalysisException

    missing = str(tmp_path / "absent.csv")
    for read in (load_ventas, read_results_csv):
        with pytest.raises(AnalysisException) as err:
            read(spark, missing)
        assert err.value.getCondition() == "PATH_NOT_FOUND"
