"""Pure-Python extraction kernels.

These modules import nothing from pyspark — they are the deterministic,
single-threaded ground truth. The Spark pipeline wraps them in Arrow-batched
``mapInArrow`` stages; the golden-file tests run them directly and require
byte-identical output from both paths.
"""
