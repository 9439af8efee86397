"""Canonical schemas for the syllabus document pipeline (SURVEY.md 1.3).

Field names follow the reference's JSON sink contract
(etl_infrastructure.py:172-232): ``areas``->``area``, ``code``->
``abrev``, ``nrc`` kept as string. Dates are real DateType (the
reference hardcoded ISO strings -- etl_infrastructure.py:215-216);
unit ``exams``/``bibliography`` are carried instead of dropped.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input of the parse stage: one row per document (the extraction seam's
# output -- from pdfplumber in production, from fixtures in tests).
RAW_DOC_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), False),
        T.StructField("pages", T.ArrayType(T.StringType()), True),
        T.StructField("units_table", T.ArrayType(T.ArrayType(T.StringType())), True),
        T.StructField("assessments_table", T.ArrayType(T.ArrayType(T.StringType())), True),
    ]
)

UNIT_SCHEMA = T.StructType(
    [
        T.StructField("number", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("achievement", T.StringType()),
        T.StructField("initial_week", T.IntegerType()),
        T.StructField("last_week", T.IntegerType()),
        T.StructField("syllabus", T.ArrayType(T.StringType())),
        T.StructField("activities", T.ArrayType(T.StringType())),
        T.StructField("exams", T.ArrayType(T.StringType())),
        T.StructField("bibliography", T.ArrayType(T.StringType())),
    ]
)

ASSESSMENT_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("abrev", T.StringType()),
        T.StructField("weight", T.DoubleType()),
        T.StructField("week", T.IntegerType()),
        T.StructField("is_recoverable", T.BooleanType()),
    ]
)

PARSED_COURSE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("period", T.StringType()),
        T.StructField("faculty", T.ArrayType(T.StringType())),
        T.StructField("credits", T.IntegerType()),
        T.StructField("weeks", T.IntegerType()),
        T.StructField("area", T.ArrayType(T.StringType())),
        T.StructField("nrc", T.StringType()),
        T.StructField("units", T.ArrayType(UNIT_SCHEMA)),
        T.StructField("assessments", T.ArrayType(ASSESSMENT_SCHEMA)),
        T.StructField("error", T.StringType()),
    ]
)
