package graft

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, Handle, MethodVisitor, Opcodes}
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files
import scala.collection.mutable

/** README's "Library surface" table must list exactly the public methods
  * of `graft.*` objects that no `src/main` code invokes. The list comes
  * from the compiled classes, not from a name grep, so a name that also
  * occurs in a comment or a string cannot hide an uncalled method.
  *
  * An object is a module class (a class with a static `MODULE$` field). A
  * method counts as uncalled when no class compiled from `src/main`
  * invokes it, neither on the module nor through the static forwarder of
  * its companion class, and no lambda or method reference targets it.
  * Left out, because something other than `src/main` code calls them:
  *   - compiler-generated members (synthetic or bridge methods, names
  *     with a `$`, the `apply`/`unapply` of a case-class companion, whose
  *     calls the compiler rewrites into `new`/field reads);
  *   - methods declared by a supertype outside `graft` (`Logging`'s
  *     `logInfo` and kin, `Object.toString`, `Function1.apply`), which
  *     are called through that supertype;
  *   - `main(String[])`, which the launcher calls.
  * A new public `def` that only its spec calls fails here until it gets a
  * README row saying why it stays.
  */
class SurfaceSpec extends AnyFunSuite {

  private val classesDir = new File("target/scala-2.13/classes")
  private val tableRow = "^\\| `([A-Za-z0-9_.]+)` \\|".r

  private final case class Info(
      name: String, supers: Seq[String], isModule: Boolean,
      methods: Seq[(String, String, Int)])

  private def classFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) classFiles(f) else if (f.getName.endsWith(".class")) Seq(f) else Nil
    }

  /** Reads one class: its supertypes, whether it is a module class, its
    * methods, (into `calls`) every method it invokes or references, and
    * (into `registrars`) each of its methods that calls a function
    * registry's `registerFunction`, a lambda body counted as the method
    * that encloses it. A static forwarder's call to the module method it
    * forwards to is not a call.
    */
  private def read(bytes: Array[Byte], calls: mutable.Set[(String, String, String)],
                   registrars: mutable.Set[String] = mutable.Set.empty): Info = {
    var name = ""
    var supers = Seq.empty[String]
    var isModule = false
    val methods = mutable.ArrayBuffer.empty[(String, String, Int)]
    def note(h: Handle): Unit = calls += ((h.getOwner, h.getName, h.getDesc))
    new ClassReader(bytes).accept(new ClassVisitor(Opcodes.ASM9) {
      override def visit(v: Int, access: Int, n: String, sig: String, sup: String,
                         itfs: Array[String]): Unit = {
        name = n
        supers = Option(sup).toSeq ++ Option(itfs).toSeq.flatten
      }
      override def visitField(access: Int, n: String, desc: String, sig: String,
                              value: Object) = {
        if (n == "MODULE$" && (access & Opcodes.ACC_STATIC) != 0) isModule = true
        null
      }
      override def visitMethod(access: Int, m: String, mDesc: String, sig: String,
                               ex: Array[String]): MethodVisitor = {
        methods += ((m, mDesc, access))
        val forwarder = (access & Opcodes.ACC_STATIC) != 0
        new MethodVisitor(Opcodes.ASM9) {
          override def visitMethodInsn(op: Int, owner: String, n: String, desc: String,
                                       itf: Boolean): Unit = {
            if (!(forwarder && owner == name + "$" && n == m && desc == mDesc)) calls += ((owner, n, desc))
            if (n == "registerFunction" && owner.startsWith("org/apache/spark/sql/catalyst/analysis/"))
              registrars += name + "." + (if (m.startsWith("$anonfun$")) m.split('$')(2) else m)
          }
          override def visitInvokeDynamicInsn(n: String, desc: String, bsm: Handle, args: Object*): Unit =
            args.foreach { case h: Handle => note(h); case _ => }
          override def visitLdcInsn(v: Object): Unit = v match {
            case h: Handle => note(h)
            case _ =>
          }
        }
      }
    }, ClassReader.SKIP_DEBUG | ClassReader.SKIP_FRAMES)
    Info(name, supers, isModule, methods.toSeq)
  }

  private def mainClasses: Seq[Array[Byte]] = classFiles(classesDir).map(f => Files.readAllBytes(f.toPath))

  /** The `Object.method` names of the uncalled public methods. */
  private def uncalledSurface(): Set[String] = {
    val calls = mutable.Set.empty[(String, String, String)]
    val infos = mainClasses.map(read(_, calls))
    val byName = infos.map(i => i.name -> i).toMap
    val outside = mutable.Map.empty[String, Info]
    /** A class outside `src/main`, read from the runtime classpath. */
    def library(cls: String): Option[Info] = outside.get(cls).orElse {
      val in = getClass.getClassLoader.getResourceAsStream(cls + ".class")
      if (in == null) None
      else try {
        val info = read(in.readAllBytes(), mutable.Set.empty)
        outside(cls) = info
        Some(info)
      } finally in.close()
    }
    def info(cls: String): Option[Info] = byName.get(cls).orElse(library(cls))
    /** Every proper supertype of `cls`. */
    def ancestors(cls: String): Set[String] =
      info(cls).toSeq.flatMap(_.supers).flatMap(s => ancestors(s) + s).toSet
    /** Every (name, descriptor) a supertype of `cls` outside `graft` declares. */
    def inherited(cls: String): Set[(String, String)] =
      ancestors(cls).filterNot(byName.contains).flatMap(s => library(s).toSeq.flatMap(_.methods))
        .map(m => (m._1, m._2))
    val generated = Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE
    infos.filter(i => i.isModule && i.name.startsWith("graft/")).flatMap { obj =>
      val companion = obj.name.stripSuffix("$")
      val caseCompanion = byName.contains(companion) && ancestors(companion).contains("scala/Product")
      val fromOutside = inherited(obj.name)
      obj.methods.collect {
        case (n, desc, access)
            if (access & Opcodes.ACC_PUBLIC) != 0 && (access & generated) == 0 &&
              !n.contains('$') && !n.startsWith("<") &&
              !(caseCompanion && (n == "apply" || n == "unapply")) &&
              !(n == "main" && desc == "([Ljava/lang/String;)V") &&
              !fromOutside.contains((n, desc)) &&
              !calls.contains((obj.name, n, desc)) && !calls.contains((companion, n, desc)) =>
          companion.substring(companion.lastIndexOf('/') + 1).replace('$', '.') + "." + n
      }
    }.toSet
  }

  test("README's library-surface table lists exactly the public object methods src/main never calls") {
    assert(classesDir.isDirectory,
      s"run from the repo root after compiling (cwd ${new File(".").getAbsolutePath})")
    val uncalled = uncalledSurface()
    val readme = new String(Files.readAllBytes(new File("README.md").toPath), "UTF-8")
    val section = readme.split("\n## ").find(_.startsWith("Library surface")).getOrElse(
      fail("README has no \"## Library surface\" section"))
    val documented = section.split("\n").toSeq
      .flatMap(l => tableRow.findFirstMatchIn(l).map(_.group(1))).toSet
    assert(uncalled.nonEmpty && documented.nonEmpty, "nothing found: the class scan or the table pattern went stale")
    assert((uncalled -- documented).isEmpty,
      s"public methods no src/main code calls, with no README library-surface row: ${(uncalled -- documented).toSeq.sorted}")
    assert((documented -- uncalled).isEmpty,
      s"README library-surface rows for methods src/main calls or no longer has: ${(documented -- uncalled).toSeq.sorted}")
  }

  test("GraftExtensions.install is the one src/main method that registers a function") {
    // per-build registration re-registered every function on each query
    // build; this keeps it from coming back under another name
    assert(classesDir.isDirectory,
      s"run from the repo root after compiling (cwd ${new File(".").getAbsolutePath})")
    val registrars = mutable.Set.empty[String]
    mainClasses.foreach(read(_, mutable.Set.empty, registrars))
    assert(registrars.toSet == Set("graft/GraftExtensions$.install"))
  }
}
