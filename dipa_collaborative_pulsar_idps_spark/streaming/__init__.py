from .replay import replay_stream, write_replay_chunks
from .state import alert_state_machine, counter_delta_stream

__all__ = [
    "replay_stream",
    "write_replay_chunks",
    "counter_delta_stream",
    "alert_state_machine",
]
