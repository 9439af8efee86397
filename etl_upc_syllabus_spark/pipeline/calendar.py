"""Weekly-calendar PDF report sink (SURVEY.md 2.1 S6).

Two ways in, one renderer (:func:`write_pdf`). ``render_pdf`` takes the
distributed aggregate (pipeline.assemble.weekly_calendar, the
registry's path) and collects its tiny per-week result. The CLI runs no
calendar query: its JSON sink's pass returns one ``(week, line)`` pair
per assessment (``sinks.write_run_artifacts``) and :func:`group_lines`
groups them on the driver with ``weekly_calendar``'s semantics, a few
hundred rows a run -- presentation, not dataflow
(etl_pipeline.py:63-147). Rendering backends: reportlab (styled table
parity) when importable, else the stdlib minipdf writer (valid
text-layout PDF) -- so S6 emits a real PDF in either environment;
render_text remains the plain-text surface.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame


def calendar_rows(calendar_df: DataFrame) -> list[tuple[int, list[str]]]:
    """Collect the (small) aggregated calendar: [(week, [lines...])]."""
    return [(r["week"], list(r["lines"])) for r in calendar_df.collect()]


def group_lines(
    entries: Iterable[tuple[int | None, str | None]],
) -> list[tuple[int | None, list[str]]]:
    """``calendar_rows(weekly_calendar(courses))`` from the ``(week,
    line)`` pairs of ``assemble.calendar_entries``: one row per week in
    ascending order, a null week first; each week's non-null lines
    sorted (code-point order is Spark's UTF-8 byte order); a week whose
    lines are all null kept with an empty list."""
    weeks: dict[int | None, list[str]] = {}
    for week, line in entries:
        lines = weeks.setdefault(week, [])
        if line is not None:
            lines.append(line)
    return [(w, sorted(weeks[w])) for w in sorted(weeks, key=lambda w: (w is not None, w))]


def render_text(calendar_df: DataFrame) -> str:
    """Plain-text calendar (same table the reference renders into PDF)."""
    out = ["Calendario Semanal de Evaluaciones", ""]
    rows = calendar_rows(calendar_df)
    if not rows:
        out.append("No se encontraron evaluaciones programadas.")
    for week, lines in rows:
        out.append(f"Semana {week}:")
        out.extend(f"  {line}" for line in lines)
    return "\n".join(out)


def reportlab_available() -> bool:
    try:
        import reportlab  # noqa: F401

        return True
    except ImportError:
        return False


def render_pdf(calendar_df: DataFrame, path: str) -> str:
    """PDF report sink over the aggregated calendar frame
    (:func:`write_pdf` of its collected rows)."""
    return write_pdf(calendar_rows(calendar_df), path)


def write_pdf(rows: list[tuple[int | None, list[str]]], path: str) -> str:
    """PDF report sink (S6, reference etl_pipeline.py:63-147) over
    ``[(week, [lines...])]`` rows.

    With reportlab importable, renders the reference's styled table
    (grey header / striped rows). Without it -- this container -- the
    stdlib minipdf writer renders the SAME (Semana, Contenido) table
    with the same styling (grey header band, whitesmoke bold header,
    white/lightgrey striped rows, ruled grid -- minipdf's
    ``styled_table`` block mirrors the reference's TableStyle,
    etl_pipeline.py:128-140), one row per calendar line, week number
    on the group's first row; minipdf.extract_pages round-trips it.
    """
    if not reportlab_available():
        from . import minipdf

        data = [["Semana", "Contenido"]]
        for week, lines in rows:
            for k, line in enumerate(lines or [""]):
                data.append([str(week) if k == 0 else "", line])
        # paginate: ~44 table rows per US-letter page, header repeated
        body_rows = data[1:] or [["", "No se encontraron evaluaciones programadas."]]
        pages = [
            [
                "Calendario Semanal de Evaluaciones",
                ("styled_table", [data[0], *body_rows[i : i + 44]]),
            ]
            for i in range(0, len(body_rows), 44)
        ]
        minipdf.write_pdf(path, pages)
        return path
    from reportlab.lib import colors
    from reportlab.lib.pagesizes import letter
    from reportlab.lib.units import inch
    from reportlab.platypus import SimpleDocTemplate, Table, TableStyle

    data = [["Semana", "Contenido"]] + [[str(w), "\n".join(lines)] for w, lines in rows]
    doc = SimpleDocTemplate(path, pagesize=letter)
    table = Table(data, colWidths=[1 * inch, 5 * inch])
    table.setStyle(
        TableStyle(
            [
                ("BACKGROUND", (0, 0), (-1, 0), colors.grey),
                ("TEXTCOLOR", (0, 0), (-1, 0), colors.whitesmoke),
                ("GRID", (0, 0), (-1, -1), 1, colors.black),
                ("VALIGN", (0, 0), (-1, -1), "TOP"),
                ("ROWBACKGROUNDS", (0, 1), (-1, -1), [colors.white, colors.lightgrey]),
            ]
        )
    )
    doc.build([table])
    return path
