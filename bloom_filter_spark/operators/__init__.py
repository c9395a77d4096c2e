from .build import build_partials, build_sketch, build_grouped  # noqa: F401
from .build import build_delta_sketch, build_delta_shard_partials  # noqa: F401
from .merge import merge_partials_auto, merge_blobs, PARTIAL_SCHEMA  # noqa: F401
from .probe import membership_udf, cms_point_udf, rank_udf, membership_scan  # noqa: F401
from .checkpoint import SketchCheckpoint  # noqa: F401
from .build import build_grouped_single_writer, build_sketch_preagg  # noqa: F401
