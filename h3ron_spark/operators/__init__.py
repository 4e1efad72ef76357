"""Frame-level H3 operators (the h3ron-polars query-semantics layer,
SURVEY §2.3/§2.4), re-expressed as Spark DataFrame plans."""

from h3ron_spark.operators.compact import (  # noqa: F401
    compact_dataframe,
    uncompact_dataframe,
)
from h3ron_spark.operators.frame import (  # noqa: F401
    bounding_rect,
    purge_children,
    change_resolution_dataframe,
    filter_h3_is_valid,
    partition_by_resolution,
    with_resolution,
)
from h3ron_spark.operators.clusters import cell_clusters  # noqa: F401
from h3ron_spark.operators.dissolve import cells_to_polygons_df  # noqa: F401
from h3ron_spark.operators.spatial import (  # noqa: F401
    cells_in_polygon,
    cells_in_rect,
    cells_within_distance,
)
from h3ron_spark.operators.neighbors import (  # noqa: F401
    continuous_cells_to_edges,
    neighbors_within_distance,
)
