"""Driver-side report document renderer — the literal ``generador.py``
end-of-pipeline story (generador.py:162-215) without ReportLab.

The ENGINE produces everything data-shaped: ``prepare_report_input``
(clean/derive), ``add_report_text`` (banding + narrative columns) and
``global_summary`` (one-row aggregate) are lazy plans checked against
DuckDB oracles (``report_enrich``, ``report_global_summary``). This
module is only the sink boundary: it walks the enriched frame with
``toLocalIterator()`` — constant driver memory, one partition in
flight — and emits the per-SKU document with the reference's section
structure (title/fecha/resumen, then per SKU: 1. Decisión de Pedido /
2. Parámetros Logísticos / 3. Calidad del Pronóstico). ReportLab is
absent from this environment, so the document renders as plain text
(default) or minimal HTML; the section content is identical.

Scale note: rendering a human-readable document is inherently a
driver-side O(rows-rendered) loop — the reference renders ~hundreds of
SKUs, never the raw fact. The engine-side ``limit``/filter chooses the
rendered population; toLocalIterator keeps the driver from holding
more than one partition of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .report import global_summary

_SEP = "-" * 72


def _sku_section(row, html: bool) -> list[str]:
    """One SKU's three numbered sections [generador.py:97-158]."""
    b = (lambda s: f"<b>{s}</b>") if html else (lambda s: s)
    br = "<br/>" if html else ""
    qty = b(f"{int(row['Qty_to_Order'])} unidades")
    rop = b(f"{int(row['Reorder_Point'])} unidades")
    ss = b(f"{int(row['Safety_Stock'])} unidades")
    total = b(f"{int(row['Forecast_Total'])} unidades")
    mape = float(row["MAPE"])
    rmse = float(row["RMSE"])

    if row["Need_Reorder"]:
        pedido = (
            f"RECOMENDACION CLAVE: Se debe realizar un pedido de {qty} "
            "para evitar una posible rotura de stock."
        )
    else:
        pedido = (
            "RECOMENDACION CLAVE: No se requiere realizar un pedido inmediato "
            "(el inventario actual esta por encima del ROP)."
        )

    # keyed on the engine's band column, so the sentence agrees with
    # banda_color whatever edges add_report_text was given
    if row["banda"] == "alta precision":
        prec = (
            f"El modelo muestra una {b('alta precision')} (MAPE: {mape:.2f}%). "
            "Las predicciones son muy fiables."
        )
    elif row["banda"] == "aceptable":
        prec = (
            f"La precision del modelo es {b('aceptable')} (MAPE: {mape:.2f}%). "
            "Requiere monitorizacion."
        )
    else:
        prec = (
            f"El modelo tuvo una {b('baja precision')} (MAPE: {mape:.2f}%), "
            "lo que indica demanda intermitente o volatil. La decision se basa "
            "fuertemente en el Stock de Seguridad."
        )
    color = row["banda_color"] if "banda_color" in row.__fields__ else ""

    lines = [
        _SEP,
        f"Analisis Detallado de SKU: {row['StockCode']} en {row['StoreID']}",
    ]
    if "Duracion_sec" in row.__fields__ and row["Duracion_sec"] is not None:
        lines.append(
            f"Duracion del procesamiento: {float(row['Duracion_sec']):.2f} segundos"
        )
    lines += [
        "1. Decision de Pedido:",
        pedido + br,
        "2. Parametros Logisticos:",
        f"El punto de reorden (ROP) es de {rop}.{br}",
        f"El stock de seguridad (SS) calculado es de {ss}.{br}",
        f"La demanda pronosticada para las {int(row['Forecast_Weeks'])} semanas "
        f"siguientes es de {total}.{br}",
        "3. Calidad del Pronostico:",
        (f'<font color="{color}">{prec} (RMSE: {rmse:.2f}).</font>'
         if html else f"{prec} (RMSE: {rmse:.2f}). [{color}]"),
        "",
    ]
    return lines


def render_report(
    enriched: DataFrame,
    out_path: str | None = None,
    generated_at: str | None = None,
    html: bool = False,
) -> str:
    """Render the inventory-optimization document from the enriched
    report frame (output of prepare_report_input -> add_report_text).

    Returns the document string; also writes it to ``out_path`` when
    given. ``generated_at`` pins the timestamp for reproducible tests
    (the reference stamps datetime.now())."""
    n, n_reorder, avg_mape = global_summary(enriched).collect()[0]
    lines = [
        "Informe de Optimizacion de Inventario",
        f"Fecha de Generacion: {generated_at}" if generated_at else "Fecha de Generacion: (no fijada)",
        "",
        f"Resumen: Se analizaron {n} combinaciones SKU/Tienda. "
        f"{n_reorder} requieren un pedido de reabastecimiento.",
        f"MAPE Promedio Global: {float(avg_mape):.2f}%",
        "",
    ]
    ordered = enriched.orderBy("StockCode", "StoreID")
    for row in ordered.toLocalIterator():
        lines += _sku_section(row, html)
    doc = "\n".join(lines)
    if out_path:
        with open(out_path, "w", encoding="utf-8") as f:
            f.write(doc)
    return doc
