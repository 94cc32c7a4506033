"""kg — a from-scratch PySpark-native knowledge-graph construction engine.

Re-expresses the dataflow of reactome/graph-importer (reference at
/root/reference, see SURVEY.md) as four idiomatic Spark DataFrame stages
over multi-turn transcript tables:

  1. extract.py      — vectorized pandas/Arrow-UDF mention + triple extraction
  2. link.py         — blocking-key entity linking (one left join; Spark picks the strategy)
  3. canonicalize.py — connected-components alias merging (large-star/small-star)
  4. materialize.py  — kg.nodes / kg.edges tables + lineage + QA

Everything is DataFrame-first: Catalyst handles pushdown/pruning/join
selection; the only custom driver-side logic is the CC fixpoint loop and
explicit skew salting (SURVEY.md §4).
"""

__version__ = "0.1.0"
