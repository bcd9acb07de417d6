"""moamosaic_spark — a from-scratch, PySpark-native mosaic & tiling engine.

Re-expresses the query semantics of the reference ``ubarsc/moamosaic``
(a threaded single-node GDAL block mosaicker) as a distributed Spark
dataflow over tables:

    documents (interleaved text+media spans)
      -> media footprints (broadcastable dim table)
      -> global extent aggregate            (ref mosaic.py:429-456)
      -> remainder-absorbing tiling          (ref mosaic.py:459-487)
      -> tile-keyed spatial join             (ref mosaic.py:501-535)
      -> grouped Arrow stitch: pad + ordered last-non-null merge
         + single-pass stats partials + pyramid fragments
                                             (ref mosaic.py:227-283,663-689,
                                              720-743,746-794)
      -> ordered sink + stats finalize + lineage checkpoint

No GDAL dependency; rasters exist only as tables. All per-pixel work is
vectorized numpy inside Arrow-batched grouped-map kernels — no
per-row Python anywhere.
"""

__version__ = "0.1.0"

from .mosaic import MosaicConfig, do_mosaic  # noqa: F401
from . import session as _session

# once per Python worker process: every later task's import-cache
# invalidation then skips the archive sub-directories and the jar
if _session.on_worker():
    _session.prune_import_caches()
