"""voz_spark — a from-scratch PySpark-native engine with the query and
data-processing capabilities of the reference crawler (fralcy/voz-crawler).

NOT a port: the reference is a sequential Selenium/BeautifulSoup/pandas
pipeline; this package re-expresses its semantics as declarative Spark
DataFrame jobs designed for 1000-executor / 100 TB scale:

- ``frontier``/``rounds``   distributed URL-frontier + fetch scheduler
  (bloom URL-seen, politeness budgets, robots, priority queue) — the
  core graft (reference: src/main.py, src/box_crawler.py,
  src/thread_crawler.py).
- ``analytics``/``extract``/``textops``/``sentiment``/``graph``   the full
  relational analytics surface (reference: src/data_analyzer.py,
  src/detailed_analyzer.py, src/network_analyzer.py,
  src/sentiment_analyzer.py).
- ``dataprep``   large-scale training-data operators (dedup families,
  ANN similarity, text quality, multimodal plumbing) that the 100 TB
  design point needs beyond the reference.
- ``pyworker``   keeps a reused Python worker's per-task start-up short.
"""

from voz_spark import pyworker

__version__ = "0.1.0"

# every engine UDF imports this package when a Python worker
# deserializes it: from then on that reused worker's tasks skip the
# per-task re-read of unchanged zip archives (pyworker docstring)
pyworker.install()
