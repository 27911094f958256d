from .registry import REGISTRY, Query, register, all_queries, all_oracles  # noqa: F401

# importing the plan modules populates the registry
from . import nexmark  # noqa: F401,E402
from . import nexmark_suite  # noqa: F401,E402
from . import tpch  # noqa: F401,E402
from . import pipeline  # noqa: F401,E402
from . import analytics  # noqa: F401,E402
from . import streaming_entries  # noqa: F401,E402
from . import binary  # noqa: F401,E402
from . import curation  # noqa: F401,E402
from . import similarity2  # noqa: F401,E402
from . import generated  # noqa: F401,E402
from . import linkage  # noqa: F401,E402
from . import corpus_stats  # noqa: F401,E402
from . import training  # noqa: F401,E402
from . import graph_algos  # noqa: F401,E402
from . import similarity3  # noqa: F401,E402
from . import layout  # noqa: F401,E402
