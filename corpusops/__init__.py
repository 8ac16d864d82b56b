"""corpusops — training-corpus operators built on the tokenqc engine.

The oracle harness of the 50-query driver surface (``harness``,
``harness_text``), the text/dedup/similarity/packing operators
(``textops``), the streaming gate, relational helpers and the table
layout advisor. None of it is part of the QC engine: ``tokenqc`` never
imports this package, and ``scripts/make_pyfiles.py`` ships only
``tokenqc``.
"""
