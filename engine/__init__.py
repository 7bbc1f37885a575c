"""PySpark-native columnar compression engine — pure-numpy codec kernels.

No Spark imports anywhere in this package (SURVEY.md §7.0): codecs are
unit-testable without a JVM; the ``jobs/`` layer wires them into
DataFrame pipelines via ``mapInArrow``.
"""
