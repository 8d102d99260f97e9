"""horseman_article_parser_spark — a from-scratch PySpark-native crawl
frontier + article-analytics engine with the capabilities of
fmacpro/horseman-article-parser (reference, read-only at /root/reference).

NOT a port: the reference is a single-process Node.js/Puppeteer pipeline;
this engine restates its data model and operator semantics (SURVEY.md §2)
as DataFrame/SQL plans optimized by Catalyst, with vectorized pandas/Arrow
UDFs for the per-document HTML/NLP work and an explicit partitioned
frontier (host-hash buckets, bloom seen-shards, politeness budgets) that
is designed for a 10^10-URL frontier on a multi-executor cluster.
"""

__version__ = "0.1.0"

from ._pyworker import install_in_task as _install_in_task

_install_in_task()
