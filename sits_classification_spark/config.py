"""Engine configuration.

Mirrors the reference's propagated settings carrier
``preprocess_settings.json`` (written at
``force/force_class_utils.py:107-114``, reloaded at
``pytorch/predict.py:595-604``): all temporal parameters live in one
serializable object that travels with every job. Lineage rows record a hash
of the settings the tiers depend on and of ``TIER_FORMAT`` (``config_hash``),
so a resume never reuses partitions built under other settings or in
another stored format: such lineage matches nothing, and the build is a
full rebuild.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass

TIER_FORMAT = 1
"""Version of the stored tier format: the columns of
``cascade.ARROW_TIER_SCHEMA`` and the ``<tier>/salt=<k>/`` directory
layout. Bump it whenever either changes; ``config_hash`` covers it."""


@dataclass(frozen=True)
class EngineConfig:
    """All temporal/rollup parameters the engine reads.

    Defaults follow the reference project settings
    (``class_main_2_train.py:21`` INT_DAY=10; nodata -9999 per
    ``force/skel/SAMPLE.prm:105-107``). Gap fill is always LINEAR with
    both-direction edge fill (``utils/class_run.py:193-194``) and the tier
    folds are always AVG, so neither is a setting.
    """

    # --- input decode ---------------------------------------------------
    nodata: int = -9999              # sentinel in token streams -> NULL
    cadence_days: int = 3            # token position k -> day epoch+k*cadence
    epoch_day: int = 0               # day index of token position 0 (1970-01-01)

    # --- gap fill / resample --------------------------------------------
    int_day: int = 10                # equidistant grid step (TSA.prm:262-264)

    # --- physical layout --------------------------------------------------
    salt_buckets: int = 32           # upper bound of the salt width for skewed `source`

    # --- noise filter (TSA.prm:142-154) -----------------------------------
    above_noise: float = 3.0         # read at query time only: not in config_hash

    def config_hash(self) -> str:
        """The lineage key of the stored tiers: a short content hash of
        TIER_FORMAT and every setting but ``above_noise``, which only
        ``Engine.noise_screen`` reads, at query time."""
        key = {k: v for k, v in asdict(self).items() if k != "above_noise"}
        key["tier_format"] = TIER_FORMAT
        return hashlib.sha256(json.dumps(key, sort_keys=True).encode()).hexdigest()[:16]


DEFAULT_CONFIG = EngineConfig()
