"""Engine configuration.

Mirrors the reference's propagated settings carrier
``preprocess_settings.json`` (written at
``force/force_class_utils.py:107-114``, reloaded at
``pytorch/predict.py:595-604``): all temporal parameters live in one
serializable object that travels with every job. Lineage rows record a hash
of it (``config_hash``), so a resume never reuses partitions built under
other settings.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass


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
    above_noise: float = 3.0

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    def config_hash(self) -> str:
        """Short content hash of to_json(): the config's lineage key."""
        return hashlib.sha256(self.to_json().encode()).hexdigest()[:16]


DEFAULT_CONFIG = EngineConfig()
