"""Engine-backed query implementations for the driver contract, one
module per family:

- `parity`: the reference's filters, sinks, codecs and section writer
  run inside Spark over each input batch;
- `store` / `store_history`: queries over the encoded store, answered
  by its own kernels, and over its append / delete history;
- `training`: training-data pipeline operators (dedup, similarity,
  text signals, sampling, sharding);
- `media`: multimodal payload parsing;
- `cleaning`: corpus-cleaning passes.

`_common` holds what they share: input reads, the session-cached
stores, the write-once generated fixtures and the one-row result.
Every query takes (spark, sf_dir) and returns a DataFrame the DuckDB
oracle SQL beside it is checked against."""

from ._common import _read  # noqa: F401
from .cleaning import *  # noqa: F401,F403
from .media import *  # noqa: F401,F403
from .parity import *  # noqa: F401,F403
from .store import *  # noqa: F401,F403
from .store_history import *  # noqa: F401,F403
from .training import *  # noqa: F401,F403
