"""Guard for the tools that run graft.Verify off target/scala-2.13/classes:
a build older than the sources would check code that no longer exists and
still report green, so refuse it."""
import glob, os, sys


def require_fresh_classes(repo):
    classes = os.path.join(repo, "target", "scala-2.13", "classes")
    newest = max((os.path.getmtime(p) for p in
                  glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)),
                 default=None)
    if newest is None:
        sys.exit(f"no compiled classes under {classes}: run `sbt compile` first")
    stale = [p for p in glob.glob(os.path.join(repo, "src", "main", "scala", "**", "*.scala"),
                                  recursive=True) if os.path.getmtime(p) > newest]
    if stale:
        sys.exit(f"{len(stale)} source file(s) newer than the newest class under {classes} "
                 f"(e.g. {os.path.relpath(stale[0], repo)}): run `sbt compile` first")
